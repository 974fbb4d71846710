package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{vec_cosine, vec_dot}
import graft.queries.QueryDef

/** Block D — approximate-nearest-neighbor search over the embedding
  * column (SURVEY.md §2.D).
  *
  * s_ann_brute is the correctness baseline: a BOUNDED query set is
  * broadcast against the corpus (Q×N with Q small — the corpus is
  * streamed once, never self-joined). s_ann_lsh is the scale path:
  * random-hyperplane signatures put corpus and queries into buckets, the
  * candidate join shuffles on the bucket key, and cosine is computed
  * within buckets only. Both rank with one window over the (small)
  * candidate set per query.
  */
object Ann {

  private[graft] val NumQueries = 8
  private[graft] val TopK = 10
  // s_maxsim's L=4 bucket tables; each table's hash width is
  // corpus-scaled by lshHyperFor.
  private val Tables_ = 4
  // Round 16: s_ann_lsh runs L=8 independent tables (candidate UNION
  // across tables — the standard LSH recall lever; each extra table
  // adds one posting row per vector and unions its bucket's
  // candidates, cost linear in L while recall compounds as
  // 1-(1-p^h)^L). Measured by s_ann_lsh_tune on this corpus:
  // recall@10 46% at L=4 → 61% at L=8 on the 10× corpus, candidate
  // volume ~1.9×. s_maxsim keeps L=4 (its per-token posting already
  // multiplies by DocToks).
  private val LshTables = 8
  private[operators] val Dim = 64

  /** Seeded deterministic hyperplane family: `tables` bucket tables ×
    * `hyper` sign bits each.
    */
  def hyperplanes(tables: Int, hyper: Int, seed: Long): IndexedSeq[IndexedSeq[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    IndexedSeq.fill(tables)(IndexedSeq.fill(hyper)(Array.fill(Dim)(rnd.nextGaussian())))
  }

  /** Cross-engine-reproducible hyperplane family: coordinate (t,h,i) is
    * `2·u − 1` with `u = md5Hash60("tag:t:h:i") / 2^60` — uniform in
    * [−1,1), symmetric about 0, so sign-random-projection LSH theory
    * holds (only the direction's sign pattern matters, not Gaussian
    * shape). Chosen over `Random.nextGaussian` so a SQL oracle rebuilds
    * the exact planes from md5 nibbles and the bucketing — hence the
    * candidate set, hence the ANN answer — is bit-identical in DuckDB.
    */
  def md5Hyperplanes(tables: Int, hyper: Int, tag: String): IndexedSeq[IndexedSeq[Array[Double]]] =
    IndexedSeq.tabulate(tables)(t => IndexedSeq.tabulate(hyper) { h =>
      Array.tabulate(Dim) { i =>
        val s = s"$tag:$t:$h:$i".getBytes("UTF-8")
        2.0 * (graft.functions.SigOps.md5Hash60(s, 0, s.length).toDouble / Pow2_60) - 1.0
      }
    })

  private val Pow2_60 = 1152921504606846976.0d // 2^60

  /** Corpus-scaled hash width for s_ann_lsh: buckets ≈ N/32 per table
    * (hyper = clamp(⌈log2 N⌉ − 5, 6, 20), occupancy ≈ 32) — the same
    * treatment IVF gives its cell count (clamp(√N)). FIXED-width 6-bit
    * buckets hold N/64 vectors each: ~10⁷ candidates PER QUERY PER
    * TABLE at 10⁹ vectors — the quadratic blow-up scaling the width
    * keeps linear. Recall across the width is maintained by the 1-bit
    * multiprobe (hyper+1 probes per table); the evaluation lives in
    * s_ann_eval. Deterministic in N only, so the oracle re-derives it
    * from count(*) and rebuilds the identical family — ⌈log2 N⌉ is
    * computed as an EXACT integer (numberOfLeadingZeros), never via
    * floating log division, whose 1-ulp platform wobble at powers of
    * two could desync the width from DuckDB's native log2 and
    * wholesale-mismatch the family.
    */
  private[operators] def lshHyperFor(n: Long): Int = {
    val m = math.max(2L, n)
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.min(20, math.max(6, ceilLog2 - 5))
  }

  /** One corpus count per dataset dir (bounded planning metadata — the
    * width derivation must not cost a table scan per query).
    */
  private val lshCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, Long]

  private def vecCol: Column = col("embedding").cast("array<double>")

  private[graft] def corpus(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), vecCol.as("v"))

  private[graft] def queries(s: SparkSession, d: String): DataFrame =
    corpus(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))

  private[graft] def ranked(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos"))
  }

  /** D1: brute-force cosine top-k — broadcast the bounded query set,
    * one streaming pass over the corpus, window-rank per query.
    */
  def sAnnBrute(s: SparkSession, d: String): DataFrame = {
    val scored = corpus(s, d)
      .crossJoin(broadcast(queries(s, d)))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", vec_cosine(col("v"), col("qv")))
    ranked(scored)
  }

  /** (row, table, bucket) — one row per table per vector (constant
    * factor, not a join explosion). Shared by the ANN queries and the
    * embedding near-dup candidate generation (Dedup.dEmbedCos).
    *
    * The bucket array is materialized behind a hard barrier BEFORE the
    * explode: Generate re-evaluates its child per OUTPUT row, so an
    * inline bucket expression would be computed `tables`× per vector
    * (measured ~8× the whole hyperplane dot work at 8 tables).
    */
  def withBucketsFor(df: DataFrame, v: Column,
      family: IndexedSeq[IndexedSeq[Array[Double]]]): DataFrame = {
    // ONE lsh_buckets kernel call per row (plane family as a reference
    // object) instead of tables×hyper separate when(vec_dot(...))
    // expression evaluations — bit-identical buckets (same dot loop,
    // same sign test; the sum of distinct 1<<h terms IS the bit-or)
    val planesArr: Array[Array[Array[Double]]] =
      family.map(_.map(_.clone()).toArray).toArray
    val staged = graft.Stage.barrier(df.withColumn("_buckets",
      graft.functions.lsh_buckets(v, planesArr)))
    staged
      .select(df.columns.map(col).toSeq :+ posexplode(col("_buckets")): _*)
      .withColumnRenamed("pos", "t")
      .withColumnRenamed("col", "bucket")
  }

  /** D2: random-hyperplane LSH ANN — the scale path. Candidates come
    * from a shuffle join on (table, bucket); a 100 TB corpus never meets
    * the queries outside shared buckets. The QUERY side multiprobes:
    * each of its buckets is also probed at every single-bit variant
    * (the d_simhash/phash trick pointed at ANN) — a near neighbor that
    * disagrees with the query on ONE of a table's 6 sign bits is still
    * found, for tables×(hyper+1) probe rows per query instead of a
    * bigger candidate blow-up from coarser buckets. Probing is
    * query-side only, so the corpus posting cost is unchanged; measured
    * recall@10 on the 500-vector local corpus: 20% → exact probing lifts it to
    * the s_ann_eval row (the honest number lives there).
    */
  def sAnnLsh(s: SparkSession, d: String): DataFrame = {
    val n = lshCountCache.computeIfAbsent(
      d + ":" + graft.Stage.sourceFingerprint(d, "embeddings"),
      _ => corpus(s, d).count())
    val hyperN = lshHyperFor(n)
    val planesN = md5Hyperplanes(LshTables, hyperN, tag = "lsh")
    val c = withBucketsFor(corpus(s, d), col("v"), planesN)
    val q = withBucketsFor(queries(s, d), col("qv"), planesN)
      .select(col("query_id"), col("qv"), col("t"), explode(array(
        (col("bucket") +: (0 until hyperN).map(i =>
          col("bucket").bitwiseXOR(lit(1 << i)))): _*)).as("bucket"))
    val candidates = c.join(q, Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "qv", "vec_id", "v")
      .dropDuplicates("query_id", "vec_id")
    ranked(candidates.withColumn("cos", vec_cosine(col("v"), col("qv"))))
  }

  /** Table counts swept by s_ann_lsh_tune (candidate union over the
    * first L of the $LshTables-table family — table t's postings serve
    * every config with tables > t, so ONE posting pass feeds the whole
    * sweep).
    */
  private[graft] val LshTuneLs = Seq(1, 2, 4, 8)

  /** D2-tune: multi-table LSH recall/economics curve — d_band_tune's
    * measure-before-you-commit discipline pointed at the ANN index's L
    * knob (how many independent hash tables to build). For each
    * L ∈ {1,2,4,8}: the candidate-pair count (what L costs — postings,
    * join volume, exact scorings) and recall@$TopK of the top-k result
    * against the brute-force truth (what L buys — per-table miss
    * probability (1−pʰ) compounds as its L-th power under the union).
    *
    * ONE bucketed join computes all four configs: each distinct
    * (query, vector) pair keeps MIN(matching table) and belongs to
    * config L iff min_t < L, so candidate sets are nested by
    * construction and the sweep costs one posting pass + one exact
    * scoring of the L=8 candidate set — not four searches. Integer
    * readout (counts, integer-division recall_pct) under the hash
    * gate; the oracle rebuilds the family from md5 nibbles and
    * re-derives the identical nested candidate sets.
    *
    * Scale shape: identical to s_ann_lsh (the sweep IS s_ann_lsh at
    * L=8 plus arithmetic) — at 100 TB this runs on a hash-sample of
    * the corpus (t_sample's splitter) and the chosen L feeds the
    * production index build unchanged.
    */
  def sAnnLshTune(s: SparkSession, d: String): DataFrame = {
    val n = lshCountCache.computeIfAbsent(
      d + ":" + graft.Stage.sourceFingerprint(d, "embeddings"),
      _ => corpus(s, d).count())
    val hyperN = lshHyperFor(n)
    val planesN = md5Hyperplanes(LshTables, hyperN, tag = "lsh")
    val c = withBucketsFor(corpus(s, d), col("v"), planesN)
    val q = withBucketsFor(queries(s, d), col("qv"), planesN)
      .select(col("query_id"), col("t"), explode(array(
        (col("bucket") +: (0 until hyperN).map(i =>
          col("bucket").bitwiseXOR(lit(1 << i)))): _*)).as("bucket"))
    val pairs = c.select("vec_id", "t", "bucket").join(q, Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id").agg(min(col("t")).as("min_t"))
    val scored = pairs
      .join(corpus(s, d), Seq("vec_id"))
      .join(broadcast(queries(s, d)), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("min_t"),
        vec_cosine(col("v"), col("qv")).as("cos"))
    val truth = graft.Stage.cached(
      sAnnBrute(s, d).select(col("query_id").as("t_query"),
        col("neighbor_id").as("t_vec")))
    val expanded = scored.select(col("query_id"), col("vec_id"),
        col("min_t"), col("cos"),
        explode(array(LshTuneLs.map(lit(_)): _*)).as("tables"))
      .filter(col("min_t") < col("tables"))
    val w = Window.partitionBy("tables", "query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    expanded.withColumn("rank", row_number().over(w))
      .join(broadcast(truth.withColumn("hit", lit(1L))),
        col("query_id") === col("t_query") && col("vec_id") === col("t_vec"),
        "left")
      .groupBy("tables")
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("rank") <= TopK && col("hit").isNotNull, 1L)
          .otherwise(0L)).as("hits"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("possible"))))
      .select(col("tables"), col("n_candidates"), col("hits"), col("possible"),
        expr("hits * 100 div possible").as("recall_pct"))
      .orderBy("tables")
  }

  /** s_ann_lsh_tune oracle: the s_ann_lsh family CTEs (md5-rebuilt
    * planes, corpus-scaled width, 1-bit multiprobe) with MIN(table)
    * kept per candidate pair, the nested configs derived by the same
    * min_t < L rule, and the brute-force truth CTE joined for hits.
    */
  lazy val sAnnLshTuneSql: String = {
    // lazy: interpolates sAnnBruteSql, which is initialized LATER in
    // this object's body — an eager val would capture null
    def bucketCte(name: String, rel: String, id: String, vec: String): String =
      s"""$name AS (
         |  SELECT $id, t, CAST(SUM(CASE WHEN
         |      list_reduce(list_transform(range(1, ${Dim + 1}), i -> r.$vec[i] * pl.p[i]), (x, y) -> x + y) > 0
         |      THEN (1 << h) ELSE 0 END) AS INT) AS bucket
         |  FROM $rel r, pl GROUP BY $id, t)""".stripMargin
    val configsValues = LshTuneLs.map(l => s"($l)").mkString(", ")
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < $NumQueries),
       |params AS (
       |  SELECT LEAST(20, GREATEST(6,
       |    CAST(ceil(log2(GREATEST(2, count(*)))) AS INT) - 5)) AS hyper
       |  FROM embeddings),
       |pl AS (
       |  SELECT t, h, list(2 * (CAST(list_reduce(list_transform(range(1, 16),
       |      j -> CAST(strpos('123456789abcdef',
       |        substr(md5('lsh:' || t || ':' || h || ':' || i), j, 1)) AS BIGINT)),
       |      (a, b) -> a * 16 + b) AS DOUBLE) / 1152921504606846976.0) - 1 ORDER BY i) AS p
       |  FROM range(0, ${LshTables}) tt(t), range(0, 20) hh(h), range(0, $Dim) ii(i), params
       |  WHERE h < params.hyper
       |  GROUP BY t, h),
       |${bucketCte("cb", "c", "vec_id", "v")},
       |${bucketCte("qb0", "q", "query_id", "qv")},
       |qb AS (
       |  SELECT query_id, t,
       |    CAST(xor(bucket, CASE WHEN p = 0 THEN 0 ELSE (1 << (p - 1)) END) AS INT) AS bucket
       |  FROM qb0, range(0, 21) pp(p), params WHERE p <= params.hyper),
       |pairs AS (
       |  SELECT qb.query_id, cb.vec_id, MIN(cb.t) AS min_t
       |  FROM cb JOIN qb ON cb.t = qb.t AND cb.bucket = qb.bucket
       |  WHERE cb.vec_id != qb.query_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT p.query_id, p.vec_id, p.min_t,
       |    list_cosine_similarity(c.v, q.qv) AS cos
       |  FROM pairs p JOIN c ON p.vec_id = c.vec_id
       |               JOIN q ON p.query_id = q.query_id),
       |bt AS (SELECT query_id, neighbor_id FROM ($sAnnBruteSql)),
       |ex AS (
       |  SELECT L.tables, s.query_id, s.vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY L.tables, s.query_id
       |      ORDER BY s.cos DESC, s.vec_id) AS rank
       |  FROM (SELECT CAST(t AS INT) AS tables FROM (VALUES $configsValues) v(t)) L
       |  JOIN scored s ON s.min_t < L.tables),
       |agg AS (
       |  SELECT tables, CAST(COUNT(*) AS BIGINT) AS n_candidates,
       |    CAST(SUM(CASE WHEN rank <= $TopK AND b.neighbor_id IS NOT NULL
       |      THEN 1 ELSE 0 END) AS BIGINT) AS hits
       |  FROM ex LEFT JOIN bt b
       |    ON ex.query_id = b.query_id AND ex.vec_id = b.neighbor_id
       |  GROUP BY 1),
       |pc AS (SELECT CAST(count(*) AS BIGINT) AS possible FROM bt)
       |SELECT tables, n_candidates, hits, possible,
       |  hits * 100 // possible AS recall_pct
       |FROM agg, pc ORDER BY tables""".stripMargin
  }

  // ---- MaxSim late-interaction retrieval (multi-vector documents) ----

  private[graft] val DocToks = 4
  private[graft] val MaxsimQueryDocs = 2
  private[graft] val MaxsimK = 5

  /** Embedding rows grouped into multi-vector documents: doc = `vec_id
    * DIV 4`, token order = vec_id. The synthetic corpus carries one
    * vector per row; the fixed 4-token grouping is the late-interaction
    * data model (per-token/per-passage vectors under one retrievable
    * doc id), deterministic so the oracle re-derives it.
    */
  private def docToks(s: SparkSession, d: String): DataFrame =
    corpus(s, d).withColumn("doc", expr(s"vec_id DIV $DocToks"))

  /** D10: ColBERT-style late-interaction retrieval — top-$MaxsimK
    * corpus documents per bounded query document under the MaxSim
    * score Σ_{query token} max_{doc token} cosine, in 4th-decimal
    * fixed point (integer max/sum → order-free, oracle-exact; one
    * float division at emit).
    *
    * Scale shape: stage 1 generates candidates at TOKEN granularity
    * with the same corpus-scaled hyperplane family as s_ann_lsh —
    * corpus tokens post once into (table, bucket), query tokens
    * 1-bit-multiprobe, the join shuffles on the bucket key, and
    * token hits collapse to DISTINCT (query doc, corpus doc) pairs
    * (any one token agreeing recalls the whole document — the
    * late-interaction analogue of LSH banding). Stage 2 re-ranks
    * candidates exactly: candidate docs gather their token matrices
    * (one groupBy shuffle of candidate corpus docs only), the bounded
    * query side broadcasts, and each pair is scored by the fused
    * codegen'd [[graft.functions.MaxSimFx]] kernel (DocToks² dot
    * products per pair, no per-pair allocation). A 100 TB corpus
    * never meets the queries outside shared token buckets, and the
    * exact scoring touches candidates only.
    */
  def sMaxsim(s: SparkSession, d: String): DataFrame = {
    val n = lshCountCache.computeIfAbsent(
      d + ":" + graft.Stage.sourceFingerprint(d, "embeddings"),
      _ => corpus(s, d).count())
    val hyperN = lshHyperFor(n)
    val planesN = md5Hyperplanes(Tables_, hyperN, tag = "lsh")
    val toks = docToks(s, d)
    val qtoks = toks.filter(col("doc") < MaxsimQueryDocs)
      .select(col("doc").as("qdoc"), col("vec_id").as("qvid"), col("v").as("qv"))
    val cb = withBucketsFor(toks, col("v"), planesN)
    val qb = withBucketsFor(qtoks, col("qv"), planesN)
      .select(col("qdoc"), col("t"), explode(array(
        (col("bucket") +: (0 until hyperN).map(i =>
          col("bucket").bitwiseXOR(lit(1 << i)))): _*)).as("bucket"))
    // cached: the pair set feeds both the rerank join and the
    // candidate-doc filter below (Stage.barrier re-runs per consumer)
    val cand = graft.Stage.cached(
      cb.select(col("doc").as("cdoc"), col("t"), col("bucket"))
        .join(qb, Seq("t", "bucket"))
        .filter(col("cdoc") =!= col("qdoc"))
        .select("qdoc", "cdoc")
        .dropDuplicates("qdoc", "cdoc"))
    def packed(df: DataFrame, docCol: String, id: Column, v: Column,
        out: String): DataFrame =
      df.groupBy(col(docCol)).agg(
        transform(array_sort(collect_list(struct(id.as("i"), v.as("x")))),
          e => e.getField("x")).as(out))
    // pack token matrices for CANDIDATE docs only (semi-join against
    // the query-volume-bounded candidate set): the pack shuffle moves
    // candidate tokens, never the whole corpus — the second linear
    // corpus scan it costs is the cheap side of that trade at scale
    val cdocs = packed(toks.withColumnRenamed("doc", "cdoc")
      .join(broadcast(cand.select("cdoc").distinct()), Seq("cdoc"), "left_semi"),
      "cdoc", col("vec_id"), col("v"), "ctoks")
    val qdocs = packed(qtoks, "qdoc", col("qvid"), col("qv"), "qtoks")
    val w = Window.partitionBy("qdoc").orderBy(col("score_fx").desc, col("cdoc"))
    cand.join(cdocs, "cdoc").join(broadcast(qdocs), "qdoc")
      .withColumn("score_fx", graft.functions.maxsim_fx(col("qtoks"), col("ctoks")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= MaxsimK)
      .select(col("qdoc").as("query_doc"), col("rank"),
        col("cdoc").as("neighbor_doc"),
        (col("score_fx").cast("double") / 10000.0).as("maxsim"))
  }

  // ---- Hard-negative triplet mining (contrastive-training prep) ----

  private[graft] val TripletNegK = 3

  /** D11: hard-negative triplet mining for contrastive training
    * (FaceNet/CLIP prep): for each anchor of a BOUNDED batch, the
    * top-$TripletNegK highest-cosine corpus vectors of a DIFFERENT
    * label (the hard negatives) joined with the hardest positive
    * (max cosine, same label), emitting the triplet margin. Scores in
    * 4th-decimal fixed point — integer max/rank/difference, one float
    * division at emit — so the oracle is bit-exact and rank ties are
    * deterministic.
    *
    * Scale shape: the anchor batch broadcasts and the corpus streams
    * ONCE through the fused cosine kernel straight into a single
    * partial-aggregable groupBy — the hardest positive as a
    * conditional max, the negatives via the k-bounded
    * [[graft.functions.TopKRows]] heap (each map partition ships at
    * most K rows per anchor; the window-rank form would shuffle and
    * sort all anchors×corpus scored rows). No cached intermediate, no
    * second pass, O(anchors·K) state. For unbounded anchor sets the
    * candidate generation composes with s_ann_lsh/s_ann_ivf exactly
    * as the kNN family does (negatives are an ANN top-k with a
    * label-disagreement filter).
    */
  def sTripletMine(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), vecCol.as("v"), col("label"))
    val anchors = base.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("anchor_id"), col("v").as("av"),
        col("label").as("alabel"))
    base.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("anchor_id"))
      .withColumn("cos_fx",
        floor(vec_cosine(col("v"), col("av")) * 10000 + 0.5).cast("long"))
      .groupBy("anchor_id")
      .agg(
        max(when(col("label") === col("alabel"), col("cos_fx"))).as("pos_fx"),
        graft.functions.topk_rows(
          when(col("label") =!= col("alabel"),
            struct(col("cos_fx").cast("double").as("score"),
              col("vec_id").as("id"))),
          TripletNegK).as("negs"))
      .filter(col("pos_fx").isNotNull)
      .select(col("anchor_id"), col("pos_fx"),
        posexplode(col("negs")).as(Seq("pos", "neg")))
      .select(col("anchor_id"), (col("pos") + 1).as("rank"),
        col("neg.id").as("negative_id"),
        (col("neg.score") / 10000.0).as("cos_neg"),
        (col("pos_fx").cast("double") / 10000.0).as("cos_pos"),
        ((col("pos_fx") - col("neg.score").cast("long")).cast("double")
          / 10000.0).as("margin"))
  }

  // ---- IVF (inverted-file) ANN: coarse k-means quantizer ----

  private val Cells = 16
  private[operators] val LloydIters = 3
  private[graft] val Probes = 3
  // centroid means accumulate in fixed point (20 fractional bits): the
  // sums are exact integers, so they are identical regardless of
  // accumulation order AND engine — DuckDB's SUM(BIGINT) re-derives the
  // same centroids bit-for-bit, which is what lets the IVF/PQ/semdedup
  // family be SQL-hash-checked rather than rows-only. (A double
  // accumulator's result depends on summation order; 2^-20 quantization
  // of the TRAINING statistic is far below any quantizer-quality
  // effect.) Max |coord·2^20| ≈ 3·2^20 and ≤ 8192 training vectors, so
  // the Long sums stay ≤ 2^34 — exact in both BIGINT and the final
  // double division.
  private val FxScale = 1048576.0d // 2^20

  private[graft] def fx(x: Double): Long = math.floor(x * FxScale + 0.5).toLong

  /** Past this cell count the per-iteration Lloyd statistics run as
    * Spark aggregations instead of a driver loop: driver Lloyd is
    * O(sample·k·dim·iters) with an 8-per-cell sample, fine to 1024
    * cells (~1.6B scalar ops) and hopeless at the 10⁵–10⁶ cells a
    * 100 TB embedding corpus wants.
    */
  private val DriverLloydMaxCells = 1024

  /** Hard ceiling on cell count — bounds the codebook that must live on
    * the driver (the centroids are broadcast into the assignment kernel
    * as one reference object: 65536 × 64 doubles = 32 MB, about the
    * sane limit for a task-binary-attached codebook; past that the
    * assignment itself should become a cell-partitioned join against a
    * centroid TABLE, which gives up the single-pass kernel).
    */
  private[graft] val MaxCells = 65536

  /** IVF cell count for a corpus of n vectors: k ≈ √N clamped to
    * [16, 65536]. The cell count must GROW with the corpus — fixed
    * cells make every query probe a constant FRACTION of the data
    * (Probes/k; at 100 TB that is ~19 TB per query batch with k=16) and
    * make the corpus×corpus graph build quadratic per cell (measured
    * 21× at the 10× probe). k = √N holds per-cell size at ~√N rows:
    * point queries touch Probes·√N vectors, the kNN build does ~N^1.5
    * work — the standard IVF curves. √N stays under MaxCells out to
    * N ≈ 4.3B vectors (≈ a 1 TB f32×64 corpus per collection); beyond
    * that per-cell size grows as N/65536, still 65536× better than the
    * old 1024 cap's N/1024.
    */
  private[graft] def scaledCells(n: Long): Int =
    math.max(Cells, math.min(MaxCells, math.sqrt(n.toDouble).toInt))

  /** Train the coarse quantizer on a bounded deterministic sample.
    * Up to DriverLloydMaxCells the sample is COLLECTED and Lloyd runs
    * on the driver: quantizer quality needs a representative subset,
    * not the corpus (production IVF trains offline on a sample of a
    * 100 TB collection), and the sample is k-bounded tiny. Running
    * SMALL iterations as Spark jobs spent more time
    * planning/codegen'ing than computing (3 jobs × ~1s each at any
    * SF); driver Lloyd on the same sample is sub-millisecond.
    * Past DriverLloydMaxCells (√N > 1024 ⇒ N > ~1M vectors) the
    * SAME iteration runs distributed (trainCentroidsDistributed) —
    * both paths produce bit-identical centroids (spec-pinned), so the
    * unrolled-CTE oracle stays valid for either.
    */
  private val TrainSample = 1024

  private[graft] def trainCentroids(c: DataFrame,
      cells: Int = Cells): Array[(Int, Seq[Double])] = {
    if (cells > DriverLloydMaxCells) return trainCentroidsDistributed(c, cells)
    val spark = c.sparkSession
    import spark.implicits._
    val sample = math.max(TrainSample, cells * 8)
    val train: Array[Array[Double]] = c.orderBy("vec_id").limit(sample)
      .select("v").as[Seq[Double]].collect().map(_.toArray)
    val k0 = math.min(cells, train.length)
    var centroids: Array[Array[Double]] = train.take(k0).map(_.clone())
    for (_ <- 1 to LloydIters) {
      val sums = Array.fill(k0)(new Array[Long](Dim)) // fixed-point: exact, order-free
      val counts = new Array[Long](k0)
      train.foreach { v =>
        var best = 0
        var bestD = Double.MaxValue
        var k = 0
        while (k < k0) {
          var dist = 0.0
          var i = 0
          while (i < Dim) { val dx = v(i) - centroids(k)(i); dist += dx * dx; i += 1 }
          if (dist < bestD) { bestD = dist; best = k } // tie → lowest cell
          k += 1
        }
        counts(best) += 1
        var i = 0
        while (i < Dim) { sums(best)(i) += fx(v(i)); i += 1 }
      }
      centroids = Array.tabulate(k0) { k =>
        if (counts(k) == 0) centroids(k) // empty cell keeps its centroid
        else Array.tabulate(Dim)(i => sums(k)(i).toDouble / (counts(k) * FxScale))
      }
    }
    centroids.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
  }

  /** Distributed Lloyd — the scale path that lifts the old 1024-cell
    * cap. Same algorithm, same arithmetic, different execution: per
    * iteration, assignment runs the nearest_cells kernel over the
    * persisted train sample (identical float ops in identical order to
    * the driver loop, broadcast codebook), and the per-cell per-dim
    * means accumulate the SAME 2^-20 fixed-point Long sums via
    * SUM(BIGINT) — exact integers, order-free, so any partitioning and
    * any merge order yields bit-identical centroids to the sequential
    * driver loop. Only the k×Dim statistic rows come back to the
    * driver per iteration (the codebook has to live there anyway to be
    * broadcast), never the sample. Cost per iteration is one
    * sample·k·Dim assignment pass, fully partition-parallel — on a
    * cluster this is the standard distributed k-means shape.
    */
  private[graft] def trainCentroidsDistributed(c: DataFrame,
      cells: Int): Array[(Int, Seq[Double])] = {
    val spark = c.sparkSession
    import spark.implicits._
    val sample = math.max(TrainSample, cells * 8)
    val train = c.orderBy("vec_id").limit(sample).select("v")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = train.count()
      val k0 = math.min(cells.toLong, n).toInt
      var centroids: Array[Array[Double]] = c.orderBy("vec_id").limit(k0)
        .select("v").as[Seq[Double]].collect().map(_.toArray)
      for (_ <- 1 to LloydIters) {
        val stats = train
          .withColumn("cell",
            element_at(graft.functions.nearest_cells(col("v"), centroids, 1), 1))
          .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
          .groupBy("cell", "i")
          // floor(x·2^20 + 0.5) AS BIGINT == fx(x): exact Long partials
          .agg(sum(floor(col("x") * FxScale + 0.5).cast("long")).as("sfx"),
            count(lit(1)).as("cnt"))
          .collect()
        val sums = Array.fill(k0)(new Array[Long](Dim))
        val counts = new Array[Long](k0)
        stats.foreach { r =>
          val cell = r.getInt(0)
          sums(cell)(r.getInt(1)) = r.getLong(2)
          counts(cell) = r.getLong(3)
        }
        centroids = Array.tabulate(k0) { k =>
          if (counts(k) == 0) centroids(k) // empty cell keeps its centroid
          else Array.tabulate(Dim)(i => sums(k)(i).toDouble / (counts(k) * FxScale))
        }
      }
      centroids.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
    } finally { train.unpersist(); () }
  }

  // ---- train-once / search-many: the trained-quantizer artifact ----
  //
  // Production IVF/PQ trains its codebooks OFFLINE and every search job
  // re-attaches them; retraining per query re-pays the most expensive
  // step of the family (and at 100 TB, re-reads the corpus). Same
  // amortization pattern as Dedup.ensureComponents and the bucketed
  // layouts: a fingerprinted write-once location, atomic rename on
  // completion, re-attached by later JVMs. The fingerprint covers the
  // corpus dir, a codebook tag, the cell count AND the training
  // semantics constants — change any and the artifact re-trains rather
  // than re-attach stale codebooks. Values round-trip BIT-EXACTLY
  // (doubleToLongBits hex), so the cached codebook is indistinguishable
  // from a fresh training run and the unrolled-CTE oracles still hold.

  private val TrainSemantics = s"lloyd:$LloydIters:$Dim:$FxScale:$TrainSample"

  private[graft] def centroidsFile(d: String, tag: String, cells: Int): java.io.File = {
    import graft.Stage.{fileStats, fp}
    // the fingerprint covers the SOURCE DATA's (size, mtime) besides
    // path/tag/cells/semantics: a corpus regenerated at the same path
    // must re-train, not re-attach codebooks trained on the old bytes
    // (the tag also versions the corpus CONSTRUCTION — ivf/semdedup
    // build different corpora from the same file)
    val src = fileStats(new java.io.File(s"$d/embeddings.parquet"))
    new java.io.File(
      s"/tmp/graft_quantizer_${fp(d)}_${tag}_${cells}_${fp(s"$TrainSemantics;$src")}")
  }

  /** Trailer guarding against torn writes: a file without a matching
    * `#end <count>` line is not a codebook.
    */
  private def renderCentroids(cs: Array[(Int, Seq[Double])]): String = {
    val sb = new StringBuilder
    cs.sortBy(_._1).foreach { case (k, v) =>
      sb.append(k).append(' ').append(v.map(x =>
        java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(x))).mkString(","))
        .append('\n')
    }
    sb.append("#end ").append(cs.length).append('\n')
    sb.toString
  }

  private[graft] def writeCentroids(f: java.io.File,
      cs: Array[(Int, Seq[Double])]): Unit = {
    // a torn target (possible only where the single-object PUT is not
    // atomic, i.e. local bindings) would block the create-if-absent
    // publish forever while every JVM silently retrains: the builder —
    // whose own read just rejected the bytes — retires it first. A
    // READABLE file never reaches this path (ensure* returns it).
    if (f.exists() && readCentroids(f).isEmpty)
      graft.Stage.retireTornArtifact(f)
    // unique staging file + seam publish: concurrent JVMs never share
    // a build file, and the loser of the publish race just discards —
    // training is deterministic (the name fingerprints its inputs), so
    // both wrote identical bytes. Torn visibility on non-atomic local
    // writes is the #end trailer's job (readCentroids discards).
    val tmp = graft.Stage.stagingFile(f, "build")
    java.nio.file.Files.write(tmp.toPath, renderCentroids(cs).getBytes("UTF-8"))
    graft.Stage.publishFile(tmp, f)
  }

  /** None for missing, torn, or malformed artifacts (which are also
    * deleted so the next attempt republishes).
    */
  private[graft] def readCentroids(f: java.io.File): Option[Array[(Int, Seq[Double])]] = {
    import scala.jdk.CollectionConverters._
    if (!f.exists()) return None
    try {
      val lines = java.nio.file.Files.readAllLines(f.toPath).asScala
        .filter(_.nonEmpty).toVector
      val entries = lines.takeWhile(!_.startsWith("#end "))
      if (lines.length != entries.length + 1 ||
        lines.last != s"#end ${entries.length}") {
        graft.Stage.retireTornArtifact(f); return None
      }
      Some(entries.map { line =>
        val Array(k, vs) = line.split(" ", 2)
        (k.toInt, vs.split(",").toIndexedSeq.map(h =>
          java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(h, 16))))
      }.toArray)
    } catch { case _: Exception => graft.Stage.retireTornArtifact(f); None }
  }

  /** The trained coarse quantizer for corpus `tag` over dir `d`:
    * trained via [[trainCentroids]] on first use, re-attached (never
    * retrained) afterwards — including from a fresh JVM. On a miss the
    * freshly trained codebook is returned directly — it is
    * bit-identical to whatever a concurrent publisher wrote, so no
    * read-back of a possibly-contended file is needed.
    */
  private[graft] def ensureCentroids(c: => DataFrame, d: String, tag: String,
      cells: Int): Array[(Int, Seq[Double])] = {
    val f = centroidsFile(d, tag, cells)
    readCentroids(f).getOrElse {
      val trained = trainCentroids(c, cells)
      writeCentroids(f, trained)
      trained
    }
  }

  /** Assign each row to its `probes` nearest cells (L2 on the
    * broadcast-literal centroids). probes=1 for corpus build, >1 for
    * query-side multi-probe.
    */
  private[graft] def assignCells(df: DataFrame, centroids: Array[(Int, Seq[Double])],
      probes: Int): DataFrame = {
    // one native kernel holding the codebook as a reference object —
    // the equivalent sort(array(struct(dist, cell)...)) form is a
    // Cells×Dim-literal expression tree whose analysis/codegen
    // dominates the query (SURVEY §8 lesson 12)
    val cents: Array[Array[Double]] = centroids.sortBy(_._1).map(_._2.toArray)
    df.withColumn("cell",
      explode(graft.functions.nearest_cells(col("v"), cents, probes)))
  }

  /** D2b: IVF ANN — the other scale path. The corpus is bucketed by its
    * nearest centroid (one pass, stored that way in production); queries
    * probe their `Probes` nearest cells; cosine runs only within probed
    * cells via a shuffle join on the cell id. The cell count scales
    * with √N (scaledCells) so each query touches ~Probes·√N vectors —
    * with the old fixed 16 cells a query probed a constant ~19% of the
    * corpus, which at 100 TB is barely better than brute force.
    */
  def sAnnIvf(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val centroids = ensureCentroids(c, d, "ivf", scaledCells(c.count()))
    val bucketed = assignCells(c, centroids, probes = 1)
    val probedQueries = assignCells(
      queries(s, d).withColumnRenamed("qv", "v"), centroids, Probes)
      .withColumnRenamed("v", "qv")
    val candidates = bucketed.join(probedQueries, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "qv", "vec_id", "v")
      .dropDuplicates("query_id", "vec_id")
    ranked(candidates.withColumn("cos", vec_cosine(col("v"), col("qv"))))
  }

  private[graft] val FilterProbes = Probes + 2

  /** D12: filtered ANN — cosine top-k under a metadata predicate
    * (candidates must share the query's label), the "filtered vector
    * search" of production stores. Shape: the SAME stored IVF layout
    * and codebook artifact as s_ann_ivf (corpus assignment is
    * filter-agnostic — one index serves every predicate), the
    * predicate applied INSIDE the cell-local candidate join so
    * filtered-out vectors never reach the cosine, and the query side
    * OVER-PROBES ($FilterProbes vs $Probes cells): a 1/|labels|
    * predicate decimates each cell's survivors, and widening the
    * probe ring is the standard recall treatment — candidate volume
    * stays cell-local and predicate-proportional, strictly below the
    * unfiltered scan of the same ring.
    */
  def sAnnFiltered(s: SparkSession, d: String): DataFrame = {
    val cl = Tables.embeddings(s, d)
      .select(col("vec_id"), vecCol.as("v"), col("label"))
    val c = corpus(s, d)
    val centroids = ensureCentroids(c, d, "ivf", scaledCells(c.count()))
    val bucketed = assignCells(cl, centroids, probes = 1)
    val probedQueries = assignCells(
      cl.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("v"),
          col("label").as("qlabel")),
      centroids, FilterProbes)
      .withColumnRenamed("v", "qv")
    val candidates = bucketed.join(probedQueries, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id")
        && col("label") === col("qlabel"))
      .select("query_id", "qv", "vec_id", "v")
      .dropDuplicates("query_id", "vec_id")
    ranked(candidates.withColumn("cos", vec_cosine(col("v"), col("qv"))))
  }

  private val KnnK = 5
  // the graph build probes wider than the point-query path: recall on
  // an isotropic corpus at 3/16 cells is ~0.5; 5/16 buys ~0.65 for a
  // 1.7× candidate volume — still cell-local, still ~N^1.5 when the
  // cell count scales with √N
  private val KnnProbes = 5

  /** D4: k-NN join — EVERY corpus vector finds its K nearest neighbors
    * (the kNN-graph primitive behind SemDeDup, kNN-LM and
    * retrieval-based data curation). IVF shape, corpus vs corpus: one
    * side is bucketed by its nearest cell (probes=1, how production
    * stores the collection anyway), the probe side visits its `Probes`
    * nearest cells, so cosine runs cell-locally — per-cell work is
    * (N/k)·(Probes·N/k) and the cell count k grows with the corpus
    * (k ≈ √N holds total work at ~N^1.5, the standard IVF curve, vs N²
    * for a brute-force self-join). True neighbors outside the probed
    * cells are missed — the documented IVF recall tradeoff; the spec
    * pins recall@K against brute force.
    */
  def sKnnJoin(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    // √N cells (scaledCells): fixed cells made per-cell verify (N/k)² →
    // quadratic total, measured 21× at the 10× probe with k=16; recall
    // at fixed probes is the documented tradeoff, spec-pinned at build
    // scale. Codebook shared with s_ann_ivf via the quantizer artifact
    // (same corpus, same cells — trained once, attached here).
    val centroids = ensureCentroids(c, d, "ivf", scaledCells(c.count()))
    val cents: Array[Array[Double]] = centroids.sortBy(_._1).map(_._2.toArray)
    // no dropDuplicates: a (vec, neighbor) pair meets exactly once —
    // the neighbor side holds ONE cell per vector and the probe cells
    // are distinct, so candidate generation is already duplicate-free
    // per-cell BLOCK product, not a row-per-pair join: the row form
    // materializes ~N·Probes·√N joined rows each carrying two dim-wide
    // vectors (≈270 GB of row copies at the 100× probe — measured to
    // dominate the whole query), and even one-kernel-call-per-probe-row
    // still pays ~N·Probes unsafe-access scans (measured 13.5 s of
    // 22 s). ONE corpus read + ONE assignment pass: the top-Probes
    // cells posexplode per vector (element 0 IS the probes=1 nearest
    // cell — same kernel, same selection), and a single per-cell
    // aggregate builds BOTH primitive blocks (ids + dim-strided
    // flattened vectors) — the neighbor side from the pos-0 rows
    // (collect_list skips the `when`'s nulls), the probe side from all
    // rows — so the former bucketed⋈probing join on cell disappears
    // along with the second read+assignment pass (~3.5 s each at the
    // 100× probe). block_topk then computes each cell's all-pairs
    // top-k in ONE kernel call over bulk-copied double[] (keeping k
    // per (probe, cell) is lossless for the global top-k), and one
    // k-bounded partial agg merges the ≤Probes·k entries per vector.
    // Contracts match the window form row-for-row: fused cosine,
    // HALF_UP 4dp, score DESC / id ASC, self pairs skipped in-kernel.
    // At production scale each block row is √N·~520 B — 34 MB at the
    // MaxCells frontier, the documented per-task unit.
    // NB no barrier before this posexplode: when the kernel IS the
    // generator child (not a projected column the optimizer can
    // re-inline under the Generate, the withBucketsFor case), the
    // assignment evaluates once per INPUT row — confirmed by the 100×
    // profile, where the assignment term appears exactly once
    val assigned = c.select(col("vec_id"), col("v"),
      posexplode(graft.functions.nearest_cells(col("v"), cents, KnnProbes))
        .as(Seq("pos", "cell")))
    val cellBlocks = assigned.groupBy("cell")
      .agg(
        collect_list(when(col("pos") === 0,
          struct(col("vec_id"), col("v")))).as("b"),
        collect_list(struct(col("vec_id"), col("v"))).as("qb"))
      .select(col("cell"),
        transform(col("b"), e => e.getField("vec_id")).as("ids"),
        flatten(transform(col("b"), e => e.getField("v"))).as("flat"),
        transform(col("qb"), e => e.getField("vec_id")).as("qids"),
        flatten(transform(col("qb"), e => e.getField("v"))).as("qflat"))
    cellBlocks
      .select(explode(graft.functions.block_topk(
        col("qids"), col("qflat"), col("ids"), col("flat"), KnnK)).as("e"))
      .select(col("e.qid").as("vec_id"), col("e.score"), col("e.id"))
      .groupBy("vec_id")
      .agg(graft.functions.topk_rows(
        struct(col("score"), col("id")), KnnK).as("nn"))
      .select(col("vec_id"), posexplode(col("nn")).as(Seq("pos", "e")))
      .select(col("vec_id"), (col("pos") + 1).as("rank"),
        col("e.id").as("neighbor_id"), col("e.score").as("cos"))
  }

  /** D9: one NN-Descent round over the kNN graph (Dong et al.'s
    * neighbor-of-neighbor refinement — the standard way to climb a
    * cheap approximate graph toward the exact one, and the build loop
    * of graph-ANN indexes). Candidates for each vector = its current
    * neighbors ∪ its neighbors' neighbors (≤ K + K² bounded rows per
    * vector — NEVER an all-pairs pass); re-rank by exact cosine, keep
    * top-K. The seed graph is s_knn_join's IVF-blocked output, so the
    * refinement exactly reuses the shared quantizer artifact; the
    * oracle nests s_knn_join's verified CTEs and replays the same
    * candidate join. The spec measures the point of the operator:
    * recall against the brute-force graph strictly improves on cells
    * the IVF seed got wrong.
    */
  def sKnnRefine(s: SparkSession, d: String): DataFrame = {
    val g = graft.Stage.cached(
      sKnnJoin(s, d).select(col("vec_id"), col("neighbor_id")))
    val c = corpus(s, d)
    val cand = g.as("a").join(g.as("b"),
        col("a.neighbor_id") === col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.neighbor_id").as("cand_id"))
      .filter(col("vec_id") =!= col("cand_id"))
      .union(g.select(col("vec_id"), col("neighbor_id").as("cand_id")))
      .distinct()
    val scored = cand
      .join(c.select(col("vec_id").as("cand_id"), col("v").as("cv")), Seq("cand_id"))
      .join(c, Seq("vec_id"))
      .withColumn("cos", round(vec_cosine(col("v"), col("cv")), 4))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KnnK)
      .select(col("vec_id"), col("rank"), col("cand_id").as("neighbor_id"),
        col("cos"))
  }

  // ---- PQ (product quantization) ANN: compressed codes + ADC ----

  private val PqM = 8          // subspaces (64 dims → 8 per subspace)
  private val PqK = 16         // centroids per subspace (4-bit codes)
  private val PqSub = Dim / PqM
  private val PqTopK = 10

  /** Driver-side Lloyd on a bounded sample — same rationale as
    * trainCentroids (quantizer training is offline in production, the
    * sample is tiny, and distributed iterations are planning-bound).
    */
  private def lloyd(train: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val dim = train.head.length
    var centroids = train.take(k).map(_.clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Long](dim)) // fixed-point: exact, order-free
      val counts = new Array[Long](k)
      train.foreach { v =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < k) {
          var dist = 0.0; var i = 0
          while (i < dim) { val dx = v(i) - centroids(c)(i); dist += dx * dx; i += 1 }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += fx(v(i)); i += 1 }
      }
      centroids = Array.tabulate(k)(c =>
        if (counts(c) == 0) centroids(c)
        else Array.tabulate(dim)(i => sums(c)(i).toDouble / (counts(c) * FxScale)))
    }
    centroids
  }

  /** D5: product-quantization ANN — the memory-bound scale path: each
    * vector is compressed to PqM 4-bit codes (64 dims × 8 bytes →
    * 4 bytes), and queries score candidates with ASYMMETRIC DISTANCE
    * (ADC): per query, one lookup table of query↔centroid distances
    * per subspace; a candidate's approximate distance is the sum of
    * PqM table lookups on its codes — no float vector is ever read at
    * query time. At 100 TB this is the difference between scanning
    * 100 TB of floats and ~6 TB of codes. Quantizers train driver-side
    * on the bounded deterministic sample (offline in production);
    * codes are computed once (stored with the corpus in production);
    * the scan is one broadcast of 8 queries × their LUTs against the
    * code table. The code scan produces a SHORTLIST (top-50 by ADC);
    * only shortlisted candidates have their true vectors read for the
    * exact re-rank — the standard two-stage retrieval: compressed
    * first pass over everything, exact math over shortlist/N ≈ 10%
    * here and a vanishing fraction at corpus scale. The spec pins
    * recall@10 of the re-ranked result against exact L2 brute force.
    */
  private val PqShortlist = 50

  /** The PQ codebooks as a quantizer artifact (train once, search
    * many) — PqM per-subspace books flattened into one centroid table
    * (cell id = m·PqK + k) for the shared bit-exact file format.
    */
  private def ensurePqBooks(c: => DataFrame, d: String): Array[Array[Array[Double]]] = {
    val f = centroidsFile(d, "pq", PqM * PqK)
    val flat = readCentroids(f).getOrElse {
      val spark = c.sparkSession
      import spark.implicits._
      val train: Array[Array[Double]] = c.orderBy("vec_id").limit(TrainSample)
        .select("v").as[Seq[Double]].collect().map(_.toArray)
      val trained = (0 until PqM).flatMap { m =>
        lloyd(train.map(_.slice(m * PqSub, (m + 1) * PqSub)), PqK, LloydIters)
          .zipWithIndex.map { case (v, k) => (m * PqK + k, v.toSeq) }
      }.toArray
      writeCentroids(f, trained)
      trained
    }
    (0 until PqM).map(m =>
      flat.filter(e => e._1 >= m * PqK && e._1 < (m + 1) * PqK)
        .sortBy(_._1).map(_._2.toArray)).toArray
  }

  def sAnnPq(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val c = corpus(s, d)
    val books: Array[Array[Array[Double]]] = ensurePqBooks(c, d)

    // encode the corpus: argmin centroid per subspace → PqM small codes
    // (native kernel over the codebook reference object — the
    // composable per-centroid-HOF form is 8×16 aggregate(zip_with)
    // trees and its analysis/codegen dominated the query)
    val codes = graft.Stage.barrier(
      c.select(col("vec_id"), graft.functions.pq_encode(col("v"), books).as("codes")))

    // queries carry their flattened ADC lookup tables (PqM*PqK doubles)
    val q = graft.Stage.barrier(
      queries(s, d).select(col("query_id"),
        graft.functions.pq_luts(col("qv"), books).as("luts")))

    val scored = codes.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(graft.functions.pq_adc(col("luts"), col("codes"), PqK), 6).as("approx_dist"))
    val wApprox = Window.partitionBy("query_id").orderBy(col("approx_dist"), col("vec_id"))
    val shortlist = scored.withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= PqShortlist)
      .select("query_id", "vec_id", "approx_dist")

    // exact re-rank: true vectors are read ONLY for the shortlist
    val exact = shortlist
      .join(c, Seq("vec_id"))
      .join(broadcast(queries(s, d)), Seq("query_id"))
      .withColumn("dist", round(
        aggregate(zip_with(col("v"), col("qv"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x), 6))
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("vec_id"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= PqTopK)
      .select("query_id", "rank", "vec_id", "dist", "approx_dist")
  }

  /** D13: IVF-PQ — the FAISS workhorse layout, composed from the two
    * stored artifacts this file already trains: the IVF quantizer
    * restricts CANDIDATES (cell-local join, query over-probes $Probes
    * cells) and PQ compresses the SCORING (ADC over 4-byte codes, exact
    * re-rank only for the shortlist). The two quantizers answer
    * different costs — IVF bounds how many candidates are touched
    * (~probes·N/√N per query), PQ bounds the bytes each touch costs
    * (codes, not vectors, stream through the ADC) — and production
    * engines ship them fused for exactly that reason: at 10⁹ vectors
    * the IVF-restricted PQ scan reads ~4 B/candidate instead of 512,
    * and the true vectors are fetched only for the top-$PqShortlist.
    * Both codebooks are the SHARED write-once artifacts (ivf quantizer,
    * pq books) — one training serves s_ann_ivf, s_ann_filtered,
    * s_knn_join and this operator unchanged.
    */
  def sAnnIvfPq(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val centroids = ensureCentroids(c, d, "ivf", scaledCells(c.count()))
    val books: Array[Array[Array[Double]]] = ensurePqBooks(c, d)
    val bucketed = assignCells(c, centroids, probes = 1)
    val probedQueries = assignCells(
      queries(s, d).withColumnRenamed("qv", "v"), centroids, Probes)
    val cand = bucketed.join(
        probedQueries.select(col("cell"), col("query_id")), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
      .dropDuplicates("query_id", "vec_id")
    val codes = graft.Stage.barrier(
      c.select(col("vec_id"), graft.functions.pq_encode(col("v"), books).as("codes")))
    val q = graft.Stage.barrier(
      queries(s, d).select(col("query_id"),
        graft.functions.pq_luts(col("qv"), books).as("luts")))
    val scored = cand.join(codes, Seq("vec_id")).join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(graft.functions.pq_adc(col("luts"), col("codes"), PqK), 6)
          .as("approx_dist"))
    val wApprox = Window.partitionBy("query_id").orderBy(col("approx_dist"), col("vec_id"))
    val shortlist = scored.withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= PqShortlist)
      .select("query_id", "vec_id", "approx_dist")
    val exact = shortlist
      .join(c, Seq("vec_id"))
      .join(broadcast(queries(s, d)), Seq("query_id"))
      .withColumn("dist", round(
        aggregate(zip_with(col("v"), col("qv"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x), 6))
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("vec_id"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= PqTopK)
      .select("query_id", "rank", "vec_id", "dist", "approx_dist")
  }

  // ---- DuckDB oracle SQL (the quantizer family is SQL-hash-checked
  // because training is bit-reproducible: see the FxScale note) ----

  /** Squared-L2 left fold over `dim` elements — the exact accumulation
    * order of CentroidOps.nearestCells / the driver Lloyd loop
    * (list_reduce is a left fold and 0.0 + x1 == x1).
    */
  private def sqDist(a: String, b: String, dim: Int): String =
    s"list_reduce(list_transform(range(1, ${dim + 1}), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"

  /** Unrolled 3-iteration Lloyd over the bounded ordered train sample,
    * exactly re-deriving trainCentroids' centroids: initial centroids =
    * first k0 train vectors; assignment = ROW_NUMBER over (dist, cell)
    * (strict-less keeps the lowest cell, same tie rule); means
    * accumulate fixed-point BIGINT sums (order-free, so DuckDB's
    * parallel SUM matches the driver's sequential loop bit-for-bit);
    * empty cells keep their previous centroid via the LEFT JOIN
    * COALESCE. Yields CTEs `params, train, c0..c3`; centroids are in
    * `c3 (cell, cv)`.
    */
  private[operators] def lloydCtes(corpus: String): String = {
    val cellsExpr = s"GREATEST(16, LEAST($MaxCells, CAST(FLOOR(SQRT(COUNT(*))) AS INT)))"
    val head =
      s"""params AS (
         |  SELECT $cellsExpr AS cells, GREATEST(1024, $cellsExpr * 8) AS sample
         |  FROM $corpus),
         |train AS (
         |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rn, v
         |  FROM (SELECT vec_id, v FROM $corpus ORDER BY vec_id LIMIT (SELECT sample FROM params))),
         |c0 AS (
         |  SELECT rn - 1 AS cell, v AS cv FROM train WHERE rn <= (SELECT cells FROM params))""".stripMargin
    val iters = (1 to LloydIters).map { it =>
      val p = it - 1
      s"""a$it AS (
         |  SELECT rn, v, cell FROM (
         |    SELECT tr.rn, tr.v, ct.cell,
         |      ROW_NUMBER() OVER (PARTITION BY tr.rn ORDER BY ${sqDist("tr.v", "ct.cv", Dim)}, ct.cell) AS ar
         |    FROM train tr, c$p ct) WHERE ar = 1),
         |c$it AS (
         |  SELECT ct.cell, COALESCE(m.cv, ct.cv) AS cv FROM c$p ct LEFT JOIN (
         |    SELECT cell, list(CAST(sfx AS DOUBLE) / (cnt * 1048576.0) ORDER BY i) AS cv FROM (
         |      SELECT cell, i,
         |        SUM(CAST(FLOOR(v[i] * 1048576.0 + 0.5) AS BIGINT)) AS sfx, COUNT(*) AS cnt
         |      FROM a$it, range(1, ${Dim + 1}) ii(i) GROUP BY cell, i) GROUP BY cell) m
         |  ON ct.cell = m.cell)""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  /** Multi-probe centroid assignment CTE body: the `probes` nearest
    * cells of `cN` per row of `rel`, ROW_NUMBER tie rule matching
    * CentroidOps.nearestCells' taken-flag selection.
    */
  private def assignSql(rel: String, id: String, vec: String, probes: Int): String =
    s"""  SELECT $id, $vec, cell FROM (
       |    SELECT r.$id, r.$vec, ct.cell,
       |      ROW_NUMBER() OVER (PARTITION BY r.$id ORDER BY ${sqDist(s"r.$vec", "ct.cv", Dim)}, ct.cell) AS ar
       |    FROM $rel r, c$LloydIters ct) WHERE ar <= $probes""".stripMargin

  /** s_ann_lsh oracle: rebuilds the md5Hyperplanes family from md5
    * nibbles (same "lsh:t:h:i" strings), folds the same dot products,
    * and re-buckets — the candidate set is bit-identical, so top-k of
    * candidates matches without any recall assumption.
    */
  val sAnnLshSql: String = {
    def bucketCte(name: String, rel: String, id: String, vec: String): String =
      s"""$name AS (
         |  SELECT $id, t, CAST(SUM(CASE WHEN
         |      list_reduce(list_transform(range(1, ${Dim + 1}), i -> r.$vec[i] * pl.p[i]), (x, y) -> x + y) > 0
         |      THEN (1 << h) ELSE 0 END) AS INT) AS bucket
         |  FROM $rel r, pl GROUP BY $id, t)""".stripMargin
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < $NumQueries),
       |params AS (
       |  SELECT LEAST(20, GREATEST(6,
       |    CAST(ceil(log2(GREATEST(2, count(*)))) AS INT) - 5)) AS hyper
       |  FROM embeddings),
       |pl AS (
       |  SELECT t, h, list(2 * (CAST(list_reduce(list_transform(range(1, 16),
       |      j -> CAST(strpos('123456789abcdef',
       |        substr(md5('lsh:' || t || ':' || h || ':' || i), j, 1)) AS BIGINT)),
       |      (a, b) -> a * 16 + b) AS DOUBLE) / 1152921504606846976.0) - 1 ORDER BY i) AS p
       |  FROM range(0, ${LshTables}) tt(t), range(0, 20) hh(h), range(0, $Dim) ii(i), params
       |  WHERE h < params.hyper
       |  GROUP BY t, h),
       |${bucketCte("cb", "c", "vec_id", "v")},
       |${bucketCte("qb0", "q", "query_id", "qv")},
       |qb AS (
       |  SELECT query_id, t,
       |    CAST(xor(bucket, CASE WHEN p = 0 THEN 0 ELSE (1 << (p - 1)) END) AS INT) AS bucket
       |  FROM qb0, range(0, 21) pp(p), params WHERE p <= params.hyper),
       |cand AS (
       |  SELECT DISTINCT qb.query_id, cb.vec_id
       |  FROM cb JOIN qb ON cb.t = qb.t AND cb.bucket = qb.bucket
       |  WHERE cb.vec_id != qb.query_id)
       |SELECT query_id, rank, vec_id AS neighbor_id, cos FROM (
       |  SELECT cand.query_id, cand.vec_id,
       |    round(list_cosine_similarity(c.v, q.qv), 4) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY cand.query_id
       |      ORDER BY list_cosine_similarity(c.v, q.qv) DESC, cand.vec_id) AS rank
       |  FROM cand JOIN c ON cand.vec_id = c.vec_id
       |            JOIN q ON cand.query_id = q.query_id)
       |WHERE rank <= $TopK""".stripMargin
  }

  /** Cosine with VectorMath.cosine's exact accumulation: three
    * index-order left folds (dot, both squared norms — `0.0 + x₁ ≡ x₁`
    * so the interleaved loop and list_reduce agree) and the
    * denominator as sqrt·sqrt, NOT the engine's native cosine kernel,
    * whose fold shape (e.g. sqrt of a product) can differ by an ulp.
    */
  private def cosSql(a: String, b: String, dim: Int): String = {
    def fold(e: String) =
      s"list_reduce(list_transform(range(1, ${dim + 1}), i -> $e), (x, y) -> x + y)"
    s"(${fold(s"$a[i] * $b[i]")} / " +
      s"(sqrt(${fold(s"$a[i] * $a[i]")}) * sqrt(${fold(s"$b[i] * $b[i]")})))"
  }

  /** s_maxsim oracle: re-derives the doc grouping, rebuilds the SAME
    * corpus-scaled hyperplane family and token buckets as s_ann_lsh's
    * oracle (candidate doc pairs bit-identical — no recall assumption),
    * then re-scores candidates with integer fixed-point MaxSim: MAX
    * per query token over fixed-point cosines, SUM over query tokens —
    * both order-free, so DuckDB's parallel aggregation matches the
    * fused kernel bit-for-bit.
    */
  val sMaxsimSql: String = {
    def bucketCte(name: String, rel: String, doc: String, vec: String): String =
      s"""$name AS (
         |  SELECT r.$doc AS doc, t, CAST(SUM(CASE WHEN
         |      list_reduce(list_transform(range(1, ${Dim + 1}), i -> r.$vec[i] * pl.p[i]), (x, y) -> x + y) > 0
         |      THEN (1 << h) ELSE 0 END) AS INT) AS bucket
         |  FROM $rel r, pl GROUP BY r.$doc, r.vec_id, t)""".stripMargin
    s"""WITH c AS (SELECT vec_id, vec_id // $DocToks AS doc,
       |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id, doc AS qdoc, v AS qv FROM c WHERE doc < $MaxsimQueryDocs),
       |params AS (
       |  SELECT LEAST(20, GREATEST(6,
       |    CAST(ceil(log2(GREATEST(2, count(*)))) AS INT) - 5)) AS hyper
       |  FROM embeddings),
       |pl AS (
       |  SELECT t, h, list(2 * (CAST(list_reduce(list_transform(range(1, 16),
       |      j -> CAST(strpos('123456789abcdef',
       |        substr(md5('lsh:' || t || ':' || h || ':' || i), j, 1)) AS BIGINT)),
       |      (a, b) -> a * 16 + b) AS DOUBLE) / 1152921504606846976.0) - 1 ORDER BY i) AS p
       |  FROM range(0, ${Tables_}) tt(t), range(0, 20) hh(h), range(0, $Dim) ii(i), params
       |  WHERE h < params.hyper
       |  GROUP BY t, h),
       |${bucketCte("cb", "c", "doc", "v")},
       |${bucketCte("qb0", "q", "qdoc", "qv")},
       |qb AS (
       |  SELECT doc AS qdoc, t,
       |    CAST(xor(bucket, CASE WHEN p = 0 THEN 0 ELSE (1 << (p - 1)) END) AS INT) AS bucket
       |  FROM qb0, range(0, 21) pp(p), params WHERE p <= params.hyper),
       |cand AS (
       |  SELECT DISTINCT qb.qdoc, cb.doc AS cdoc
       |  FROM cb JOIN qb ON cb.t = qb.t AND cb.bucket = qb.bucket
       |  WHERE cb.doc != qb.qdoc),
       |tokmax AS (
       |  SELECT cand.qdoc, cand.cdoc, q.vec_id AS qvid,
       |    MAX(CAST(FLOOR(${cosSql("q.qv", "ct.v", Dim)} * 10000 + 0.5) AS BIGINT)) AS m
       |  FROM cand JOIN q ON q.qdoc = cand.qdoc
       |            JOIN c ct ON ct.doc = cand.cdoc
       |  GROUP BY 1, 2, 3),
       |score AS (SELECT qdoc, cdoc, SUM(m) AS sfx FROM tokmax GROUP BY 1, 2)
       |SELECT qdoc AS query_doc, rank, cdoc AS neighbor_doc,
       |  CAST(sfx AS DOUBLE) / 10000.0 AS maxsim
       |FROM (SELECT qdoc, cdoc, sfx,
       |    ROW_NUMBER() OVER (PARTITION BY qdoc ORDER BY sfx DESC, cdoc) AS rank
       |  FROM score)
       |WHERE rank <= $MaxsimK""".stripMargin
  }

  /** s_triplet_mine oracle: one scored relation (explicit-fold cosine
    * in VectorMath's accumulation order, fixed-point BIGINT), positive
    * max and negative top-K re-derived from it — integer ranks and
    * margins, so ties and arithmetic match the Spark plan exactly.
    */
  val sTripletMineSql: String =
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
       |a AS (SELECT vec_id AS anchor_id, v AS av, label AS alabel FROM c
       |      WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT a.anchor_id, a.alabel, c.vec_id, c.label,
       |    CAST(FLOOR(${cosSql("c.v", "a.av", Dim)} * 10000 + 0.5) AS BIGINT) AS cos_fx
       |  FROM c, a WHERE c.vec_id != a.anchor_id),
       |pos AS (SELECT anchor_id, MAX(cos_fx) AS pos_fx FROM scored
       |        WHERE label = alabel GROUP BY 1),
       |neg AS (SELECT anchor_id, vec_id, cos_fx,
       |    ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cos_fx DESC, vec_id) AS rank
       |  FROM scored WHERE label != alabel)
       |SELECT n.anchor_id, n.rank, n.vec_id AS negative_id,
       |  CAST(n.cos_fx AS DOUBLE) / 10000.0 AS cos_neg,
       |  CAST(p.pos_fx AS DOUBLE) / 10000.0 AS cos_pos,
       |  CAST(p.pos_fx - n.cos_fx AS DOUBLE) / 10000.0 AS margin
       |FROM neg n JOIN pos p USING (anchor_id) WHERE n.rank <= $TripletNegK""".stripMargin

  /** s_ann_ivf oracle: exact Lloyd re-derivation (lloydCtes), corpus
    * assigned probes=1, queries probe $Probes cells, cosine ranked
    * within probed cells — bit-identical to the Spark plan.
    */
  val sAnnIvfSql: String =
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < $NumQueries),
       |${lloydCtes("c")},
       |ca AS (
       |${assignSql("c", "vec_id", "v", probes = 1)}),
       |qa AS (
       |${assignSql("q", "query_id", "qv", Probes)})
       |SELECT query_id, rank, vec_id AS neighbor_id, cos FROM (
       |  SELECT query_id, vec_id,
       |    round(list_cosine_similarity(v, qv), 4) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY list_cosine_similarity(v, qv) DESC, vec_id) AS rank
       |  FROM (SELECT DISTINCT qa.query_id, ca.vec_id, ca.v, qa.qv
       |        FROM ca JOIN qa ON ca.cell = qa.cell WHERE ca.vec_id != qa.query_id))
       |WHERE rank <= $TopK""".stripMargin

  /** s_ann_filtered oracle: same Lloyd centroids (trained on the
    * UNfiltered corpus, as the shared artifact is), corpus stored at
    * probes=1, queries over-probe $FilterProbes cells, label equality
    * applied to the cell-joined candidates before ranking.
    */
  val sAnnFilteredSql: String =
    s"""WITH cl AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
       |c AS (SELECT vec_id, v FROM cl),
       |q AS (SELECT vec_id AS query_id, v AS qv, label AS qlabel FROM cl
       |      WHERE vec_id < $NumQueries),
       |${lloydCtes("c")},
       |ca AS (
       |${assignSql("c", "vec_id", "v", probes = 1)}),
       |qa AS (
       |${assignSql("q", "query_id", "qv", FilterProbes)})
       |SELECT query_id, rank, vec_id AS neighbor_id, cos FROM (
       |  SELECT query_id, vec_id,
       |    round(list_cosine_similarity(v, qv), 4) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY list_cosine_similarity(v, qv) DESC, vec_id) AS rank
       |  FROM (SELECT DISTINCT qa.query_id, ca.vec_id, ca.v, qa.qv
       |        FROM ca JOIN qa ON ca.cell = qa.cell
       |             JOIN cl ON cl.vec_id = ca.vec_id
       |             JOIN q ON q.query_id = qa.query_id
       |        WHERE ca.vec_id != qa.query_id AND cl.label = q.qlabel))
       |WHERE rank <= $TopK""".stripMargin

  /** s_knn_join oracle: same Lloyd centroids; probe side visits
    * $KnnProbes cells, neighbor side is stored in its 1 nearest cell;
    * per-vector top-$KnnK by ROUNDED cosine (the Spark window orders by
    * the rounded column).
    */
  val sKnnJoinSql: String =
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${lloydCtes("c")},
       |ca AS (
       |${assignSql("c", "vec_id", "v", probes = 1)}),
       |pr AS (
       |${assignSql("c", "vec_id", "v", KnnProbes)})
       |SELECT vec_id, rank, neighbor_id, cos FROM (
       |  SELECT pr.vec_id, ca.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(pr.v, ca.v), 4) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY pr.vec_id
       |      ORDER BY round(list_cosine_similarity(pr.v, ca.v), 4) DESC, ca.vec_id) AS rank
       |  FROM pr JOIN ca ON pr.cell = ca.cell WHERE pr.vec_id != ca.vec_id)
       |WHERE rank <= $KnnK""".stripMargin

  /** s_knn_refine oracle: nest the verified kNN-graph CTEs, replay the
    * neighbor-of-neighbor candidate join, re-rank by rounded cosine.
    */
  val sKnnRefineSql: String =
    s"""WITH g AS (SELECT vec_id, neighbor_id FROM ($sKnnJoinSql)),
       |cv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cand AS (
       |  SELECT DISTINCT vec_id, cand_id FROM (
       |    SELECT a.vec_id, b.neighbor_id AS cand_id
       |    FROM g a JOIN g b ON a.neighbor_id = b.vec_id
       |    WHERE a.vec_id != b.neighbor_id
       |    UNION ALL SELECT vec_id, neighbor_id FROM g))
       |SELECT vec_id, rank, cand_id AS neighbor_id, cos FROM (
       |  SELECT cand.vec_id, cand.cand_id,
       |    round(list_cosine_similarity(x.v, y.v), 4) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY cand.vec_id
       |      ORDER BY round(list_cosine_similarity(x.v, y.v), 4) DESC, cand.cand_id) AS rank
       |  FROM cand JOIN cv x ON cand.vec_id = x.vec_id
       |            JOIN cv y ON cand.cand_id = y.vec_id)
       |WHERE rank <= $KnnK""".stripMargin

  /** s_ann_pq oracle: per-subspace Lloyd (8 codebooks re-derived with
    * the same fixed-point unrolled iterations, keyed (m, cell)), codes
    * = 1-based argmin per subspace, ADC = left-fold sum of the 8 LUT
    * entries in subspace order, shortlist by rounded ADC, exact
    * squared-L2 re-rank — every step the same fold as the kernels.
    */
  val sAnnPqSql: String = {
    val subD = sqDist("tr.sv", "ct.cv", PqSub)
    val head =
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < $NumQueries),
         |train AS (
         |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rn, v
         |  FROM (SELECT vec_id, v FROM c ORDER BY vec_id LIMIT $TrainSample)),
         |tr AS (
         |  SELECT rn, m, v[(m * $PqSub + 1):(m * $PqSub + $PqSub)] AS sv
         |  FROM train, range(0, $PqM) mm(m)),
         |p0 AS (SELECT m, rn - 1 AS cell, sv AS cv FROM tr WHERE rn <= $PqK)""".stripMargin
    val iters = (1 to LloydIters).map { it =>
      val p = it - 1
      s"""a$it AS (
         |  SELECT m, rn, sv, cell FROM (
         |    SELECT tr.m, tr.rn, tr.sv, ct.cell,
         |      ROW_NUMBER() OVER (PARTITION BY tr.m, tr.rn ORDER BY $subD, ct.cell) AS ar
         |    FROM tr JOIN p$p ct ON tr.m = ct.m) WHERE ar = 1),
         |p$it AS (
         |  SELECT ct.m, ct.cell, COALESCE(u.cv, ct.cv) AS cv FROM p$p ct LEFT JOIN (
         |    SELECT m, cell, list(CAST(sfx AS DOUBLE) / (cnt * 1048576.0) ORDER BY i) AS cv FROM (
         |      SELECT m, cell, i,
         |        SUM(CAST(FLOOR(sv[i] * 1048576.0 + 0.5) AS BIGINT)) AS sfx, COUNT(*) AS cnt
         |      FROM a$it, range(1, ${PqSub + 1}) ii(i) GROUP BY m, cell, i) GROUP BY m, cell) u
         |  ON ct.m = u.m AND ct.cell = u.cell)""".stripMargin
    }
    val exactD = s"round(${sqDist("c.v", "q.qv", Dim)}, 6)"
    val tail =
      s"""cs AS (
         |  SELECT vec_id, m, v[(m * $PqSub + 1):(m * $PqSub + $PqSub)] AS sv FROM c, range(0, $PqM) mm(m)),
         |codes AS (
         |  SELECT vec_id, m, cell FROM (
         |    SELECT cs.vec_id, cs.m, ct.cell,
         |      ROW_NUMBER() OVER (PARTITION BY cs.vec_id, cs.m ORDER BY ${sqDist("cs.sv", "ct.cv", PqSub)}, ct.cell) AS ar
         |    FROM cs JOIN p$LloydIters ct ON cs.m = ct.m) WHERE ar = 1),
         |qs AS (
         |  SELECT query_id, m, qv[(m * $PqSub + 1):(m * $PqSub + $PqSub)] AS sv FROM q, range(0, $PqM) mm(m)),
         |luts AS (
         |  SELECT qs.query_id, qs.m, ct.cell, ${sqDist("qs.sv", "ct.cv", PqSub)} AS lut
         |  FROM qs JOIN p$LloydIters ct ON qs.m = ct.m),
         |adc AS (
         |  SELECT l.query_id, cd.vec_id,
         |    round(list_reduce(list(l.lut ORDER BY l.m), (x, y) -> x + y), 6) AS approx_dist
         |  FROM codes cd JOIN luts l ON cd.m = l.m AND cd.cell = l.cell
         |  WHERE cd.vec_id != l.query_id
         |  GROUP BY l.query_id, cd.vec_id),
         |shortlist AS (
         |  SELECT query_id, vec_id, approx_dist FROM (
         |    SELECT query_id, vec_id, approx_dist,
         |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY approx_dist, vec_id) AS arank
         |    FROM adc) WHERE arank <= $PqShortlist)
         |SELECT query_id, rank, vec_id, dist, approx_dist FROM (
         |  SELECT s.query_id, s.vec_id, s.approx_dist, $exactD AS dist,
         |    ROW_NUMBER() OVER (PARTITION BY s.query_id ORDER BY $exactD, s.vec_id) AS rank
         |  FROM shortlist s JOIN c ON s.vec_id = c.vec_id JOIN q ON s.query_id = q.query_id)
         |WHERE rank <= $PqTopK""".stripMargin
    (head +: iters :+ tail).mkString(",\n")
  }

  /** s_ann_ivfpq oracle: the verified IVF CTEs (lloydCtes + probe
    * assignment) restrict candidates; a p-prefixed replay of the
    * verified PQ CTEs (per-subspace Lloyd, codes, LUTs) scores them by
    * ADC; shortlist + exact re-rank mirror s_ann_pq's tail. Prefixing
    * avoids the `train`/`a1..` CTE-name collision between the two
    * quantizer derivations.
    */
  val sAnnIvfPqSql: String = {
    val subD = sqDist("ptr.sv", "ct.cv", PqSub)
    val pqHead =
      s"""ptrain AS (
         |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rn, v
         |  FROM (SELECT vec_id, v FROM c ORDER BY vec_id LIMIT $TrainSample)),
         |ptr AS (
         |  SELECT rn, m, v[(m * $PqSub + 1):(m * $PqSub + $PqSub)] AS sv
         |  FROM ptrain, range(0, $PqM) mm(m)),
         |pp0 AS (SELECT m, rn - 1 AS cell, sv AS cv FROM ptr WHERE rn <= $PqK)""".stripMargin
    val pqIters = (1 to LloydIters).map { it =>
      val p = it - 1
      s"""pa$it AS (
         |  SELECT m, rn, sv, cell FROM (
         |    SELECT ptr.m, ptr.rn, ptr.sv, ct.cell,
         |      ROW_NUMBER() OVER (PARTITION BY ptr.m, ptr.rn ORDER BY $subD, ct.cell) AS ar
         |    FROM ptr JOIN pp$p ct ON ptr.m = ct.m) WHERE ar = 1),
         |pp$it AS (
         |  SELECT ct.m, ct.cell, COALESCE(u.cv, ct.cv) AS cv FROM pp$p ct LEFT JOIN (
         |    SELECT m, cell, list(CAST(sfx AS DOUBLE) / (cnt * 1048576.0) ORDER BY i) AS cv FROM (
         |      SELECT m, cell, i,
         |        SUM(CAST(FLOOR(sv[i] * 1048576.0 + 0.5) AS BIGINT)) AS sfx, COUNT(*) AS cnt
         |      FROM pa$it, range(1, ${PqSub + 1}) ii(i) GROUP BY m, cell, i) GROUP BY m, cell) u
         |  ON ct.m = u.m AND ct.cell = u.cell)""".stripMargin
    }
    val exactD = s"round(${sqDist("c.v", "q.qv", Dim)}, 6)"
    val head =
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < $NumQueries),
         |${lloydCtes("c")},
         |ca AS (
         |${assignSql("c", "vec_id", "v", probes = 1)}),
         |qa AS (
         |${assignSql("q", "query_id", "qv", Probes)}),
         |cand AS (
         |  SELECT DISTINCT qa.query_id, ca.vec_id
         |  FROM ca JOIN qa ON ca.cell = qa.cell WHERE ca.vec_id != qa.query_id)""".stripMargin
    val tail =
      s"""cs AS (
         |  SELECT vec_id, m, v[(m * $PqSub + 1):(m * $PqSub + $PqSub)] AS sv FROM c, range(0, $PqM) mm(m)),
         |codes AS (
         |  SELECT vec_id, m, cell FROM (
         |    SELECT cs.vec_id, cs.m, ct.cell,
         |      ROW_NUMBER() OVER (PARTITION BY cs.vec_id, cs.m ORDER BY ${sqDist("cs.sv", "ct.cv", PqSub)}, ct.cell) AS ar
         |    FROM cs JOIN pp$LloydIters ct ON cs.m = ct.m) WHERE ar = 1),
         |qs AS (
         |  SELECT query_id, m, qv[(m * $PqSub + 1):(m * $PqSub + $PqSub)] AS sv FROM q, range(0, $PqM) mm(m)),
         |luts AS (
         |  SELECT qs.query_id, qs.m, ct.cell, ${sqDist("qs.sv", "ct.cv", PqSub)} AS lut
         |  FROM qs JOIN pp$LloydIters ct ON qs.m = ct.m),
         |adc AS (
         |  SELECT l.query_id, cd.vec_id,
         |    round(list_reduce(list(l.lut ORDER BY l.m), (x, y) -> x + y), 6) AS approx_dist
         |  FROM cand n
         |  JOIN codes cd ON n.vec_id = cd.vec_id
         |  JOIN luts l ON l.query_id = n.query_id AND cd.m = l.m AND cd.cell = l.cell
         |  GROUP BY l.query_id, cd.vec_id),
         |shortlist AS (
         |  SELECT query_id, vec_id, approx_dist FROM (
         |    SELECT query_id, vec_id, approx_dist,
         |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY approx_dist, vec_id) AS arank
         |    FROM adc) WHERE arank <= $PqShortlist)
         |SELECT query_id, rank, vec_id, dist, approx_dist FROM (
         |  SELECT s.query_id, s.vec_id, s.approx_dist, $exactD AS dist,
         |    ROW_NUMBER() OVER (PARTITION BY s.query_id ORDER BY $exactD, s.vec_id) AS rank
         |  FROM shortlist s JOIN c ON s.vec_id = c.vec_id JOIN q ON s.query_id = q.query_id)
         |WHERE rank <= $PqTopK""".stripMargin
    (head +: pqHead +: pqIters :+ tail).mkString(",\n")
  }

  /** s_ann_brute oracle: DuckDB's list_cosine_similarity runs the same
    * sequential dot/norm accumulation as graft's fused vec_cosine
    * kernel; ranking ties break on vec_id in both, and 4-dp rounding
    * guards the last ulp.
    */
  val sAnnBruteSql: String =
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < $NumQueries)
       |SELECT query_id, rank, vec_id AS neighbor_id, cos FROM (
       |  SELECT q.query_id, c.vec_id,
       |    round(list_cosine_similarity(c.v, q.qv), 4) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY q.query_id
       |      ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id) AS rank
       |  FROM c CROSS JOIN q WHERE c.vec_id != q.query_id)
       |WHERE rank <= $TopK""".stripMargin

  /** D6: kNN label classification — the inference pattern over a
    * labeled corpus: a BOUNDED batch of incoming vectors (vec_id % 97
    * == 0, standing in for new arrivals) is broadcast against the
    * corpus, each takes the majority label of its 5 nearest neighbors
    * (self excluded; ties → cosine then vec_id, label ties → smaller
    * label). Linear in the corpus — one streamed scan per batch, a
    * window over the per-query candidate set, a vote agg. The oracle
    * recomputes the identical vote with list_cosine_similarity.
    */
  private val KnnClassifyK = 5

  def sKnnClassify(s: SparkSession, d: String): DataFrame = {
    val c = Tables.embeddings(s, d)
      .select(col("vec_id"), vecCol.as("v"), col("label"))
    // BOUNDED means independent of corpus size: the residue alone
    // grows with the corpus (10x corpus -> 10x batch -> 100x scan work,
    // measured superlinear at the 10x probe), so the batch is also
    // capped by absolute id
    val batch = c.filter(col("vec_id") % 97 === 0 && col("vec_id") < 8000)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("label").as("true_label"))
    val scored = c.crossJoin(broadcast(batch))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", vec_cosine(col("v"), col("qv")))
    val wTop = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    val votes = scored.withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= KnnClassifyK)
      .groupBy("query_id", "true_label", "label")
      .agg(count(lit(1)).as("votes"))
    val wVote = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("label"))
    votes.withColumn("vrk", row_number().over(wVote))
      .filter(col("vrk") === 1)
      .select(col("query_id"), col("true_label"),
        col("label").as("predicted"), col("votes"),
        (col("label") === col("true_label")).as("hit"))
  }

  val sKnnClassifySql: String =
    s"""WITH c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
       |q AS (
       |  SELECT vec_id AS query_id, v AS qv, label AS true_label
       |  FROM c WHERE vec_id % 97 = 0 AND vec_id < 8000),
       |top AS (
       |  SELECT query_id, true_label, label FROM (
       |    SELECT q.query_id, q.true_label, c.label,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id) AS rk
       |    FROM c CROSS JOIN q WHERE c.vec_id != q.query_id)
       |  WHERE rk <= $KnnClassifyK),
       |votes AS (
       |  SELECT query_id, true_label, label, COUNT(*) AS votes
       |  FROM top GROUP BY 1, 2, 3)
       |SELECT query_id, true_label, label AS predicted, votes,
       |  label = true_label AS hit
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY votes DESC, label) AS vrk FROM votes)
       |WHERE vrk = 1""".stripMargin

  /** D7: radius (range) search — all corpus vectors within cosine ≥ τ
    * of each query in a bounded batch, the retrieval primitive when the
    * answer set size is data-dependent (dedup candidates, near-match
    * lookup) rather than a fixed top-k. Same scale shape as
    * s_ann_brute: broadcast the bounded batch, one streamed corpus
    * pass, no self-join; the production path swaps the scan for the
    * LSH/IVF bucketed candidates exactly as s_ann_lsh does.
    */
  private val RangeTau = 0.25

  def sRangeSearch(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    // capped by absolute id so the batch stays bounded at any corpus
    // size (same contract as s_knn_classify)
    val batch = c.filter(col("vec_id") % 89 === 0 && col("vec_id") < 8000)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    c.crossJoin(broadcast(batch))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(vec_cosine(col("v"), col("qv")), 4))
      .filter(col("cos") >= RangeTau)
      .select("query_id", "vec_id", "cos")
  }

  val sRangeSearchSql: String =
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id % 89 = 0 AND vec_id < 8000)
       |SELECT query_id, c.vec_id, round(list_cosine_similarity(c.v, q.qv), 4) AS cos
       |FROM c CROSS JOIN q
       |WHERE c.vec_id != q.query_id
       |  AND round(list_cosine_similarity(c.v, q.qv), 4) >= $RangeTau""".stripMargin

  /** D8: hybrid retrieval — lexical + vector ranking fused with
    * reciprocal-rank fusion (RRF, the standard hybrid-search combiner):
    * per query doc, every corpus doc gets a lexical rank (word-set
    * jaccard, integer-exact sets, one IEEE division) and a vector rank
    * (cosine, the shared vec_cosine kernel), fused as
    * `10^9 div (60+r_lex) + 10^9 div (60+r_vec)` — integer arithmetic,
    * no float drift in the fused score — and the top-10 by fused score
    * emitted. The candidate set here is the bounded demo cross
    * (NumQueries × corpus, broadcast, same contract as s_ann_brute);
    * at 100 TB candidates come from the LSH/IVF family on the vector
    * side and an inverted-index (t_tfidf's postings shape) on the
    * lexical side — RRF only consumes RANKS, so it composes unchanged
    * with any candidate generator. Two row_number windows share one
    * hash partitioning on query_id (one exchange, two sorts).
    */
  def sHybrid(s: SparkSession, d: String): DataFrame = {
    val docsW = Tables.documents(s, d).select(col("doc_id"),
      array_distinct(filter(split(lower(col("text")), "\\s+"), w => w =!= "")).as("ws"))
    val corp = docsW.join(
      Tables.embeddings(s, d).select(col("vec_id"), vecCol.as("v")),
      docsW("doc_id") === col("vec_id")).drop("vec_id")
    val qs = corp.filter(col("doc_id") < NumQueries)
      .select(col("doc_id").as("query_id"), col("ws").as("qws"), col("v").as("qv"))
    val scored = corp.crossJoin(broadcast(qs))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        (size(array_intersect(col("ws"), col("qws"))).cast("double") /
          size(array_union(col("ws"), col("qws")))).as("lex"),
        vec_cosine(col("v"), col("qv")).as("cos"))
    val wl = Window.partitionBy("query_id").orderBy(col("lex").desc, col("doc_id"))
    val wv = Window.partitionBy("query_id").orderBy(col("cos").desc, col("doc_id"))
    val rk = scored
      .withColumn("r_lex", row_number().over(wl))
      .withColumn("r_vec", row_number().over(wv))
      .withColumn("rrf",
        expr("1000000000 div (60 + r_lex) + 1000000000 div (60 + r_vec)"))
    val wf = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))
    rk.withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= TopK)
      .select("query_id", "rank", "doc_id", "r_lex", "r_vec", "rrf")
  }

  val sHybridSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |w AS (
       |  SELECT doc_id, list_distinct(list_filter(
       |    string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+'), x -> x != '')) AS ws
       |  FROM documents),
       |corpus AS (SELECT doc_id, ws, v FROM w JOIN e ON e.vec_id = w.doc_id),
       |q AS (SELECT doc_id AS query_id, ws AS qws, v AS qv
       |      FROM corpus WHERE doc_id < $NumQueries),
       |scored AS (
       |  SELECT q.query_id, corpus.doc_id,
       |    CAST(len(list_distinct(list_intersect(ws, qws))) AS DOUBLE)
       |      / len(list_distinct(list_concat(ws, qws))) AS lex,
       |    list_cosine_similarity(v, qv) AS cos
       |  FROM corpus, q WHERE doc_id != query_id),
       |rk AS (
       |  SELECT query_id, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY lex DESC, doc_id) AS r_lex,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS r_vec
       |  FROM scored)
       |SELECT query_id, rank, doc_id, r_lex, r_vec, rrf FROM (
       |  SELECT query_id, doc_id, r_lex, r_vec,
       |    CAST(1000000000 // (60 + r_lex) + 1000000000 // (60 + r_vec) AS BIGINT) AS rrf,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY 1000000000 // (60 + r_lex) + 1000000000 // (60 + r_vec) DESC,
       |               doc_id) AS rank
       |  FROM rk)
       |WHERE rank <= $TopK""".stripMargin

  /** D8: recall@k evaluation of every approximate method against the
    * brute-force ground truth — the measurement loop an ANN deployment
    * runs before trusting an index (and after every index rebuild).
    * Integer arithmetic end to end (hit counts, possible = |brute|,
    * recall_pct by integer division), so the evaluation itself is under
    * the hash gate. Each method's result set is already independently
    * hash-verified against its own oracle; this composes them (the
    * oracle nests those CTEs verbatim) and reduces each to one
    * accountable number. Scale: the join is per-(query, neighbor) over
    * Q·k rows per method — negligible next to the searches themselves.
    */
  def sAnnEval(s: SparkSession, d: String): DataFrame = {
    // cosine ground truth for the cosine-metric methods (ivf, lsh)...
    val bruteCos = graft.Stage.cached(
      sAnnBrute(s, d).select(col("query_id"), col("neighbor_id")))
    // ...and an exact-L2 ground truth for PQ, which ranks by squared
    // distance (same rounded-dist + id tie-break as its re-rank)
    val wL2 = Window.partitionBy("query_id").orderBy(col("dist"), col("vec_id"))
    val bruteL2 = graft.Stage.cached(corpus(s, d)
      .crossJoin(broadcast(queries(s, d)))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("dist", round(
        aggregate(zip_with(col("v"), col("qv"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x), 6))
      .withColumn("rank", row_number().over(wL2))
      .filter(col("rank") <= PqTopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id")))
    def scored(name: String, res: DataFrame, idCol: String,
        truth: DataFrame): DataFrame =
      // LEFT join + marker sum: a method with ZERO hits still reports
      // its hits=0 row (an inner join + groupBy would silently drop it)
      res.select(lit(name).as("method"), col("query_id"),
          col(idCol).as("neighbor_id"))
        .join(truth.withColumn("hit", lit(1L)), Seq("query_id", "neighbor_id"),
          "left")
        .groupBy("method").agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("possible"))))
    scored("ivf", sAnnIvf(s, d), "neighbor_id", bruteCos)
      .unionByName(scored("lsh", sAnnLsh(s, d), "neighbor_id", bruteCos))
      .unionByName(scored("pq", sAnnPq(s, d), "vec_id", bruteL2))
      .select(col("method"), col("hits"), col("possible"),
        expr("hits * 100 div possible").as("recall_pct"))
      .orderBy("method")
  }

  val sAnnEvalSql: String =
    s"""WITH bc AS (SELECT query_id, neighbor_id FROM ($sAnnBruteSql)),
       |bl AS (
       |  WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |  q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < $NumQueries)
       |  SELECT query_id, vec_id AS neighbor_id FROM (
       |    SELECT q.query_id, c.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY round(${sqDist("c.v", "q.qv", Dim)}, 6), c.vec_id) AS rank
       |    FROM c CROSS JOIN q WHERE c.vec_id != q.query_id) WHERE rank <= $PqTopK),
       |hc AS (
       |  SELECT method, CAST(SUM(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits FROM (
       |    SELECT 'ivf' AS method, query_id, neighbor_id FROM ($sAnnIvfSql)
       |    UNION ALL SELECT 'lsh', query_id, neighbor_id FROM ($sAnnLshSql)) m
       |  LEFT JOIN bc b ON m.query_id = b.query_id AND m.neighbor_id = b.neighbor_id
       |  GROUP BY 1),
       |hp AS (
       |  SELECT 'pq' AS method, CAST(SUM(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
       |  FROM (SELECT query_id, vec_id AS neighbor_id FROM ($sAnnPqSql)) m
       |  LEFT JOIN bl b ON m.query_id = b.query_id AND m.neighbor_id = b.neighbor_id),
       |pc AS (SELECT CAST(count(*) AS BIGINT) AS possible FROM bc),
       |pl AS (SELECT CAST(count(*) AS BIGINT) AS possible FROM bl)
       |SELECT method, hits, possible, hits * 100 // possible AS recall_pct FROM (
       |  SELECT method, hits, (SELECT possible FROM pc) AS possible FROM hc
       |  UNION ALL
       |  SELECT method, hits, (SELECT possible FROM pl) FROM hp)
       |ORDER BY method""".stripMargin

  // ---- SQ (scalar quantization) MIPS: int8 codes + fixed-point ADC ----

  private val SqTopK = 10
  private val SqShortlist = 50
  private val SqLevels = 255

  /** D11: scalar-quantized maximum-inner-product search (SQ8 — the
    * Faiss/Milvus `SQ8` index family, and the third point on the
    * compression spectrum after LSH bits and PQ codebooks): training is
    * just a per-dimension [min, max] — 2·Dim numbers against PQ's M·K
    * centroids — and each vector compresses 4× to one int8 level per
    * dimension. Scoring is ASYMMETRIC in exact fixed point: the query
    * stays full-precision (qFx = ⌊q·2^20⌉), the candidate is
    * reconstructed on the fly as exact BIGINTs (minFx + code·ΔFx), and
    * Σ qFx·x̂Fx is pure int64 arithmetic — order-free, so the serial
    * SQL oracle reproduces the distributed scan bit-for-bit. The code
    * scan yields a top-$SqShortlist shortlist per query; only the
    * shortlist has true vectors read for the exact inner-product
    * re-rank (same two-stage shape as PQ).
    *
    * Scale: the first pass reads Dim bytes per vector instead of
    * 4·Dim (f32) — at 100 TB of embeddings the shortlist scan touches
    * 25 TB of codes, and the exact pass touches shortlist/N ≈ 0 of the
    * floats. The [min,max] stats train in ONE posexplode pass with
    * map-side partial aggregation onto Dim keys (a 64-row shuffle at
    * any corpus size) and persist as a write-once artifact in the
    * shared codebook format (seam-published, torn-artifact
    * self-healing included).
    */
  private def ensureSqStats(c: => DataFrame, d: String): (Array[Double], Array[Double]) = {
    val f = centroidsFile(d, "sq", 2)
    val rows = readCentroids(f).getOrElse {
      val stats = c.select(posexplode(col("v")))
        .groupBy("pos").agg(min("col").as("mn"), max("col").as("mx"))
        .orderBy("pos").collect()
      val out: Array[(Int, Seq[Double])] = Array(
        (0, stats.map(_.getDouble(1)).toSeq),
        (1, stats.map(_.getDouble(2)).toSeq))
      writeCentroids(f, out)
      out
    }
    val m = rows.toMap
    (m(0).toArray, m(1).toArray)
  }

  def sAnnSq(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val (mins, maxs) = ensureSqStats(c, d)
    val minFx = mins.map(fx)
    val dFx = Array.tabulate(mins.length)(i => fx((maxs(i) - mins(i)) / SqLevels))

    // the stored compressed corpus: one int8 level per dim
    val codes = graft.Stage.barrier(
      c.select(col("vec_id"),
        graft.functions.sq_encode(col("v"), mins, maxs).as("codes")))
    val q = graft.Stage.barrier(
      queries(s, d).select(col("query_id"),
        transform(col("qv"), x => floor(x * FxScale + lit(0.5)).cast("long"))
          .as("qfx")))

    val scored = codes.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.sq_adc(col("qfx"), col("codes"), minFx, dFx)
          .as("approx_ip"))
    val wA = Window.partitionBy("query_id")
      .orderBy(col("approx_ip").desc, col("vec_id"))
    val shortlist = scored.withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= SqShortlist)
      .select("query_id", "vec_id", "approx_ip")

    // exact re-rank: true vectors read ONLY for the shortlist
    val exact = shortlist
      .join(c, Seq("vec_id"))
      .join(broadcast(queries(s, d)), Seq("query_id"))
      .withColumn("ip", round(vec_dot(col("v"), col("qv")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("ip").desc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= SqTopK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("ip"), col("approx_ip"))
  }

  /** The oracle re-derives stats, codes, and the fixed-point ADC scan
    * bit-for-bit (everything after the exact double stats is integer),
    * then re-ranks the same shortlist by the same serial-fold inner
    * product.
    */
  val sAnnSqSql: String = {
    val fxs = "1048576.0"
    s"""WITH c AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < $NumQueries),
       |dims AS (SELECT unnest(range(1, ${Dim + 1})) AS i),
       |st AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
       |       FROM c CROSS JOIN dims GROUP BY i),
       |p AS (SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs,
       |    list(CAST(floor(mn * $fxs + 0.5) AS BIGINT) ORDER BY i) AS minfx,
       |    list(CAST(floor((mx - mn) / $SqLevels * $fxs + 0.5) AS BIGINT) ORDER BY i) AS dfx
       |  FROM st),
       |codes AS (SELECT vec_id,
       |    list_transform(range(1, ${Dim + 1}), i ->
       |      CASE WHEN p.maxs[i] <= p.mins[i] THEN 0
       |        ELSE CAST(least(greatest(
       |          floor((v[i] - p.mins[i]) * $SqLevels.0 / (p.maxs[i] - p.mins[i])),
       |          0.0), $SqLevels.0) AS INT) END) AS cs
       |  FROM c CROSS JOIN p),
       |qf AS (SELECT query_id, qv,
       |    list_transform(qv, x -> CAST(floor(x * $fxs + 0.5) AS BIGINT)) AS qfx
       |  FROM q),
       |scored AS (SELECT qf.query_id, codes.vec_id,
       |    list_reduce(list_transform(range(1, ${Dim + 1}),
       |      i -> qf.qfx[i] * (p.minfx[i] + codes.cs[i] * p.dfx[i])),
       |      (a, b) -> a + b) AS approx_ip
       |  FROM codes CROSS JOIN qf CROSS JOIN p
       |  WHERE codes.vec_id != qf.query_id),
       |sl AS (SELECT query_id, vec_id, approx_ip,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY approx_ip DESC, vec_id) AS arank
       |  FROM scored),
       |ex AS (SELECT s.query_id, s.vec_id, s.approx_ip,
       |    round(list_reduce(list_transform(range(1, ${Dim + 1}),
       |      i -> c.v[i] * qf.qv[i]), (a, b) -> a + b), 6) AS ip
       |  FROM sl s JOIN c ON c.vec_id = s.vec_id
       |  JOIN qf ON qf.query_id = s.query_id
       |  WHERE s.arank <= $SqShortlist)
       |SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, vec_id) AS rank,
       |  vec_id AS neighbor_id, ip, approx_ip
       |FROM ex
       |QUALIFY rank <= $SqTopK
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---- graph-expansion search (the HNSW/NSG query path, batched) ----

  private val GsBeam = 8
  private val GsSeedStride = 16

  /** D11: beam search over the kNN graph — the query-time half of
    * graph-ANN (HNSW/NSG/Vamana): start from cheap entry points, follow
    * graph edges toward the query, re-rank what was visited. Re-expressed
    * as a BATCHED, fixed-depth beam: entry candidates are the
    * deterministic 1/${GsSeedStride} corpus slice scored exactly, the
    * top-$GsBeam per query form the frontier, and each of two unrolled
    * hops expands the frontier through the SHARED kNN-graph artifact
    * (s_knn_join's IVF-blocked build — the same edges NN-Descent
    * refines), keeping visited = distinct(visited ∪ neighbors(frontier))
    * and re-beaming. Final answer: exact top-$TopK of the visited set.
    *
    * Scale shape: per query the visited set is bounded by
    * seeds + hops·beam·K — never a corpus scan; the seed slice is one
    * pruned scan (modulo pushdown), each hop is a broadcast-sized
    * frontier joined against the graph on its build key, and scoring
    * touches only visited ids (semi-join into the corpus, not a cross).
    * At 10⁹ vectors the per-query cost is the ~100-edge walk every
    * graph-ANN paper banks on, while the batch form keeps it one
    * declarative plan (no driver-side loop per hop — the depth is a
    * compile-time unroll, matching the oracle's chained CTEs).
    */
  def sGraphSearch(s: SparkSession, d: String): DataFrame = {
    val g = graft.Stage.cached(
      sKnnJoin(s, d).select(col("vec_id"), col("neighbor_id")))
    val c = corpus(s, d)
    val q = queries(s, d)
    def score(pairs: DataFrame): DataFrame = pairs
      .join(c, Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos", round(vec_cosine(col("v"), col("qv")), 4))
      .select("query_id", "vec_id", "cos")
    def beam(v: DataFrame, b: Int): DataFrame = {
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
      v.withColumn("rn", row_number().over(w)).filter(col("rn") <= b)
        .select("query_id", "vec_id")
    }
    def expand(f: DataFrame): DataFrame = f
      .join(g, Seq("vec_id"))
      .select(col("query_id"), col("neighbor_id").as("vec_id"))
    val seeds = c.filter(col("vec_id") % GsSeedStride === 0)
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(vec_cosine(col("v"), col("qv")), 4))
      .select("query_id", "vec_id", "cos")
    val p1 = seeds.select("query_id", "vec_id")
      .union(expand(beam(seeds, GsBeam)))
      .filter(col("vec_id") =!= col("query_id")).distinct()
    val v1 = graft.Stage.cached(score(p1))
    val p2 = v1.select("query_id", "vec_id")
      .union(expand(beam(v1, GsBeam)))
      .filter(col("vec_id") =!= col("query_id")).distinct()
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    score(p2).withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cos"))
  }

  val sGraphSearchSql: String =
    s"""WITH g AS (SELECT vec_id, neighbor_id FROM ($sKnnJoinSql)),
       |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < $NumQueries),
       |v0 AS (SELECT query_id, c.vec_id,
       |         round(list_cosine_similarity(c.v, q.qv), 4) AS cos
       |       FROM c, q
       |       WHERE c.vec_id % $GsSeedStride = 0 AND c.vec_id != q.query_id),
       |f0 AS (SELECT query_id, vec_id FROM (
       |         SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY cos DESC, vec_id) AS rn FROM v0) WHERE rn <= $GsBeam),
       |p1 AS (SELECT DISTINCT query_id, vec_id FROM (
       |         SELECT query_id, vec_id FROM v0
       |         UNION ALL
       |         SELECT f0.query_id, g.neighbor_id AS vec_id
       |         FROM f0 JOIN g ON f0.vec_id = g.vec_id) u
       |       WHERE vec_id != query_id),
       |v1 AS (SELECT query_id, p1.vec_id,
       |         round(list_cosine_similarity(c.v, q.qv), 4) AS cos
       |       FROM p1 JOIN c ON p1.vec_id = c.vec_id JOIN q USING (query_id)),
       |f1 AS (SELECT query_id, vec_id FROM (
       |         SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY cos DESC, vec_id) AS rn FROM v1) WHERE rn <= $GsBeam),
       |p2 AS (SELECT DISTINCT query_id, vec_id FROM (
       |         SELECT query_id, vec_id FROM v1
       |         UNION ALL
       |         SELECT f1.query_id, g.neighbor_id AS vec_id
       |         FROM f1 JOIN g ON f1.vec_id = g.vec_id) u
       |       WHERE vec_id != query_id),
       |v2 AS (SELECT query_id, p2.vec_id,
       |         round(list_cosine_similarity(c.v, q.qv), 4) AS cos
       |       FROM p2 JOIN c ON p2.vec_id = c.vec_id JOIN q USING (query_id))
       |SELECT query_id, rank, vec_id AS neighbor_id, cos FROM (
       |  SELECT query_id, vec_id, cos, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, vec_id) AS rank FROM v2)
       |WHERE rank <= $TopK""".stripMargin

  // ---- MMR: diversity-aware re-ranking of a retrieval shortlist ----

  private val MmrC = 12
  private val MmrK = 5

  /** D12: Maximal Marginal Relevance (Carbonell & Goldstein '98 — the
    * standard RAG/retrieval diversifier): from each query's top-$MmrC
    * shortlist, greedily select $MmrK results maximizing
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) with λ = 0.7 — the
    * first pick is pure relevance, every later pick is penalized by
    * its similarity to what's already chosen, so near-duplicate hits
    * can't fill the context window. The greedy argmax chain is
    * inherently sequential PER QUERY but bounded (K steps over ≤C
    * candidates), so it runs as ONE mmr_select kernel eval over each
    * query's shortlist block — the oracle unrolls the identical chain
    * as K−1 [anti-join out the selected, max-sim, rank-1] CTE stages.
    * ALL scores are integer fixed-point (floor(cos·10⁴ + 0.5); weights
    * 7/3 = 10λ/10(1−λ)), so every comparison is exact BIGINT in both
    * engines — no float drift across K chained argmaxes.
    *
    * Scale shape: the shortlist (not the corpus) is what MMR touches —
    * C·N_queries rows, the pairwise table C²·N_queries — both
    * broadcast-sized by construction at any corpus size; the corpus
    * appears only in the (swappable) shortlist stage, here brute
    * scoring, in production the IVF/LSH path feeding the same columns.
    */
  def sMmr(s: SparkSession, d: String): DataFrame = {
    val wq = Window.partitionBy("query_id").orderBy(col("relFx").desc, col("vec_id"))
    val cand = corpus(s, d).crossJoin(broadcast(queries(s, d)))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("relFx",
        floor(vec_cosine(col("v"), col("qv")) * 10000 + 0.5).cast("long"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= MmrC)
      .select("query_id", "vec_id", "relFx", "v")
    mmrSelect(cand)
  }

  /** D12b: MMR over the IVF index — the production composition. The
    * shortlist feeding the greedy diversifier comes from the SAME
    * stored IVF layout and codebook artifact as s_ann_ivf (cell-local
    * candidates, $Probes probed cells per query) instead of a brute
    * corpus × queries scan, so the diversified retrieval touches
    * ~Probes·√N vectors per query at any corpus size — the shape a
    * RAG pipeline runs at 100 TB. Downstream of the shortlist the
    * greedy chain is IDENTICAL to s_mmr (same kernel, same fixed-point
    * contracts); the oracle re-derives the Lloyd codebook + probed
    * cells exactly (lloydCtes/assignSql, as s_ann_ivf's oracle does)
    * and unrolls the same greedy chain over that recalled set — so
    * composability is hash-gated, not asserted.
    */
  def sMmrIvf(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val centroids = ensureCentroids(c, d, "ivf", scaledCells(c.count()))
    val bucketed = assignCells(c, centroids, probes = 1)
    val probedQueries = assignCells(
      queries(s, d).withColumnRenamed("qv", "v"), centroids, Probes)
      .withColumnRenamed("v", "qv")
    val wq = Window.partitionBy("query_id").orderBy(col("relFx").desc, col("vec_id"))
    val cand = bucketed.join(probedQueries, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "qv", "vec_id", "v")
      .dropDuplicates("query_id", "vec_id")
      .withColumn("relFx",
        floor(vec_cosine(col("v"), col("qv")) * 10000 + 0.5).cast("long"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= MmrC)
      .select("query_id", "vec_id", "relFx", "v")
    mmrSelect(cand)
  }

  /** The greedy selection stage shared by s_mmr and s_mmr_ivf: ONE
    * mmr_select kernel eval per query over its shortlist block (ids +
    * relFx + flattened vectors) — the block_topk pattern. A first cut
    * unrolled the K−1 steps as anti-join/max-sim/rank-1 DataFrame
    * stages: semantically identical (the spec's brute recount pinned
    * both), but ~20 shuffle stages of K·Q-row frames cost 5.1 s steady
    * at sf0.1 vs ~1 s for the kernel — per-query bounded work belongs
    * in one eval, not a stage chain.
    */
  private def mmrSelect(cand: DataFrame): DataFrame =
    cand.groupBy("query_id")
      .agg(collect_list(struct(col("vec_id"), col("relFx"), col("v"))).as("cs"))
      .select(col("query_id"), explode(graft.functions.mmr_select(
        transform(col("cs"), e => e.getField("vec_id")),
        transform(col("cs"), e => e.getField("relFx")),
        flatten(transform(col("cs"), e => e.getField("v"))), MmrK)).as("e"))
      .select(col("query_id"), col("e.sel_rank").as("sel_rank"),
        col("e.id").as("vec_id"), col("e.relfx").as("rel_fx"))

  val sMmrSql: String = {
    val relFx = s"CAST(FLOOR(${cosSql("c.v", "q.qv", Dim)} * 10000 + 0.5) AS BIGINT)"
    mmrChainSql(
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < $NumQueries),
         |cand AS (
         |  SELECT query_id, vec_id, relFx, v FROM (
         |    SELECT q.query_id, c.vec_id, $relFx AS relFx, c.v,
         |      ROW_NUMBER() OVER (PARTITION BY q.query_id
         |        ORDER BY $relFx DESC, c.vec_id) AS rn
         |    FROM c, q WHERE c.vec_id != q.query_id) WHERE rn <= $MmrC)""".stripMargin)
  }

  /** s_mmr_ivf oracle: exact Lloyd re-derivation + probed-cell
    * candidate set (bit-identical to the Spark IVF path, as
    * s_ann_ivf's oracle is), fixed-point shortlist top-$MmrC, then the
    * same unrolled greedy chain as s_mmr's oracle.
    */
  val sMmrIvfSql: String = {
    val relFx = s"CAST(FLOOR(${cosSql("cd.v", "cd.qv", Dim)} * 10000 + 0.5) AS BIGINT)"
    mmrChainSql(
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < $NumQueries),
         |${lloydCtes("c")},
         |ca AS (
         |${assignSql("c", "vec_id", "v", probes = 1)}),
         |qa AS (
         |${assignSql("q", "query_id", "qv", Probes)}),
         |cand AS MATERIALIZED (
         |  SELECT query_id, vec_id, relFx, v FROM (
         |    SELECT query_id, vec_id, relFx, v,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY relFx DESC, vec_id) AS rn
         |    FROM (SELECT cd.query_id, cd.vec_id, $relFx AS relFx, cd.v
         |          FROM (SELECT DISTINCT qa.query_id, ca.vec_id, ca.v, qa.qv
         |                FROM ca JOIN qa ON ca.cell = qa.cell
         |                WHERE ca.vec_id != qa.query_id) cd)) WHERE rn <= $MmrC)""".stripMargin)
  }

  /** Greedy MMR chain appended to a head whose final CTE is
    * `cand(query_id, vec_id, relFx, v)`: pairwise fixed-point sims,
    * K−1 unrolled [anti-join selected, max-sim, rank-1] stages, union
    * of the K selection steps.
    */
  private def mmrChainSql(candHead: String): String = {
    val simFx = s"CAST(FLOOR(${cosSql("a.v", "b.v", Dim)} * 10000 + 0.5) AS BIGINT)"
    val head =
      s"""$candHead,
         |sims AS MATERIALIZED (
         |  SELECT a.query_id, a.vec_id AS ca, b.vec_id AS cb, $simFx AS simFx
         |  FROM cand a JOIN cand b
         |    ON a.query_id = b.query_id AND a.vec_id != b.vec_id),
         |s1 AS (
         |  SELECT query_id, vec_id, relFx, 1 AS sel_rank FROM (
         |    SELECT query_id, vec_id, relFx,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY relFx DESC, vec_id) AS rn
         |    FROM cand) WHERE rn = 1),
         |u2 AS (SELECT query_id, vec_id FROM s1)""".stripMargin
    val steps = (2 to MmrK).map { i =>
      val uNext = if (i < MmrK)
        s""",
           |u${i + 1} AS (SELECT query_id, vec_id FROM u$i
           |  UNION ALL SELECT query_id, vec_id FROM s$i)""".stripMargin
      else ""
      s"""m$i AS (
         |  SELECT s.query_id, s.ca AS vec_id, MAX(s.simFx) AS msimFx
         |  FROM sims s JOIN u$i u
         |    ON s.query_id = u.query_id AND s.cb = u.vec_id
         |  GROUP BY s.query_id, s.ca),
         |s$i AS (
         |  SELECT query_id, vec_id, relFx, $i AS sel_rank FROM (
         |    SELECT cd.query_id, cd.vec_id, cd.relFx,
         |      ROW_NUMBER() OVER (PARTITION BY cd.query_id
         |        ORDER BY 7 * cd.relFx - 3 * m.msimFx DESC, cd.vec_id) AS rn
         |    FROM cand cd JOIN m$i m
         |      ON cd.query_id = m.query_id AND cd.vec_id = m.vec_id
         |    WHERE NOT EXISTS (SELECT 1 FROM u$i u
         |      WHERE u.query_id = cd.query_id AND u.vec_id = cd.vec_id)
         |  ) WHERE rn = 1)$uNext""".stripMargin
    }.mkString(",\n", ",\n", "")
    val unionAll = (1 to MmrK).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
    s"""$head$steps
       |SELECT query_id, CAST(sel_rank AS INTEGER) AS sel_rank, vec_id,
       |  relFx AS rel_fx
       |FROM ($unionAll)""".stripMargin
  }

  /** D-kmeans: one deterministic Lloyd round of k-means over the
    * embedding corpus — assignment of every vector to its nearest of
    * k=8 fixed seed centroids (the k lowest vec_ids, so both engines
    * pick the identical seed set with no RNG) plus the quantized
    * centroid accumulators the NEXT iterate would divide. A production
    * clustering loops exactly this body to convergence (the
    * d_centrality fixed-iteration convention); one round is the
    * oracle-checkable unit.
    *
    * Float discipline: the assignment argmax uses raw cosine (the
    * pinned-order vec_cosine fold DuckDB's list_cosine_similarity
    * reproduces bit-for-bit — the s_ann_brute contract) with seed_id
    * tie-break; everything SUMMED across the corpus is first floored
    * to fixed-point BIGINT (cosine at 1e-6, per-vector component mass
    * at 1e-6), so no cross-row float fold exists for partitioning to
    * reorder.
    *
    * Scale shape: k seeds broadcast into ONE corpus scan; the 8-way
    * candidate frame collapses via max_by-style struct max with
    * map-side partial aggregation (no window shuffle/sort on the
    * corpus), then a k-row hash agg. At 100 TB this is the canonical
    * distributed k-means step: linear scan, k-bounded state.
    */
  private val KmeansK = 8

  def sKmeans(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val seeds = c.orderBy("vec_id").limit(KmeansK)
      .select(col("vec_id").as("seed_id"), col("v").as("sv"))
    val assigned = c
      .withColumn("qmass", expr(
        "aggregate(v, CAST(0 AS BIGINT), (acc, x) -> acc + CAST(FLOOR(x * 1000000.0D) AS BIGINT))"))
      .crossJoin(broadcast(seeds))
      .withColumn("cos", vec_cosine(col("v"), col("sv")))
      .withColumn("qcos", expr("CAST(FLOOR(cos * 1000000.0D) AS BIGINT)"))
      // (cos, -seed_id) is a total order per vector (seeds are
      // distinct), so the struct max IS the deterministic argmax —
      // map-side combinable, unlike a per-vector window sort
      .groupBy("vec_id")
      .agg(max(struct(col("cos"), (-col("seed_id")).as("negseed"),
        col("seed_id"), col("qcos"), col("qmass"))).as("best"))
    assigned
      .groupBy(col("best.seed_id").as("cluster_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("best.qcos")).cast("long").as("sum_qcos"),
        sum(col("best.qmass")).cast("long").as("centroid_mass"))
      .select(col("cluster_id"), col("n"), col("sum_qcos"),
        (col("sum_qcos").cast("double") / col("n").cast("double")).as("mean_qcos"),
        col("centroid_mass"))
  }

  val sKmeansSql: String =
    s"""WITH c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    list_reduce(list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(FLOOR(x * 1000000.0) AS BIGINT)), (a, b) -> a + b) AS qmass
       |  FROM embeddings),
       |seeds AS (
       |  SELECT vec_id AS seed_id, v AS sv FROM c ORDER BY vec_id LIMIT $KmeansK),
       |assigned AS (
       |  SELECT vec_id, seed_id, qmass,
       |    CAST(FLOOR(list_cosine_similarity(v, sv) * 1000000.0) AS BIGINT) AS qcos,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY list_cosine_similarity(v, sv) DESC, seed_id) AS rn
       |  FROM c CROSS JOIN seeds)
       |SELECT seed_id AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(qcos) AS BIGINT) AS sum_qcos,
       |  CAST(SUM(qcos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_qcos,
       |  CAST(SUM(qmass) AS BIGINT) AS centroid_mass
       |FROM assigned WHERE rn = 1
       |GROUP BY 1""".stripMargin

  /** D-sil: cluster assignment-margin diagnostics (the scalable
    * silhouette proxy — true silhouette is O(N²) pairwise; the
    * centroid margin a−b, nearest minus second-nearest centroid
    * affinity, is the standard linear-time substitute): per cluster,
    * how confidently its members belong. COMPOSES with s_kmeans: same
    * seed set, same one-scan broadcast-assignment shape (the s_mmr_ivf
    * composability convention). The per-vector top-2 comes from a
    * sort_array over the collected k-candidate list (k-bounded rows
    * per vector — never a corpus window), ordered by the QUANTIZED
    * cosine (BIGINT @1e-6) so the ranking key itself is
    * engine-portable rather than ulp-exposed; margins are BIGINT
    * through every aggregate.
    */
  def sSilhouette(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val seeds = c.orderBy("vec_id").limit(KmeansK)
      .select(col("vec_id").as("seed_id"), col("v").as("sv"))
    val top2 = c.crossJoin(broadcast(seeds))
      .withColumn("cos", vec_cosine(col("v"), col("sv")))
      .withColumn("qcos", expr("CAST(FLOOR(cos * 1000000.0D) AS BIGINT)"))
      .groupBy("vec_id")
      .agg(slice(sort_array(collect_list(
        struct((-col("qcos")).as("neg"), col("seed_id"), col("qcos")))), 1, 2).as("t"))
      .select(col("vec_id"),
        col("t")(0).getField("seed_id").as("cluster_id"),
        (col("t")(0).getField("qcos") - col("t")(1).getField("qcos")).as("margin"))
    top2.groupBy("cluster_id")
      .agg(count(lit(1)).as("n"),
        sum("margin").cast("long").as("sum_margin"),
        min("margin").cast("long").as("min_margin"))
      .select(col("cluster_id"), col("n"), col("sum_margin"), col("min_margin"),
        (col("sum_margin").cast("double") / col("n").cast("double")).as("mean_margin"))
  }

  val sSilhouetteSql: String =
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |seeds AS (
       |  SELECT vec_id AS seed_id, v AS sv FROM c ORDER BY vec_id LIMIT $KmeansK),
       |scored AS (
       |  SELECT vec_id, seed_id,
       |    CAST(FLOOR(list_cosine_similarity(v, sv) * 1000000.0) AS BIGINT) AS qcos,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
       |      CAST(FLOOR(list_cosine_similarity(v, sv) * 1000000.0) AS BIGINT) DESC,
       |      seed_id) AS rn
       |  FROM c CROSS JOIN seeds),
       |top2 AS (
       |  SELECT vec_id,
       |    MAX(CASE WHEN rn = 1 THEN seed_id END) AS cluster_id,
       |    MAX(CASE WHEN rn = 1 THEN qcos END)
       |      - MAX(CASE WHEN rn = 2 THEN qcos END) AS margin
       |  FROM scored WHERE rn <= 2 GROUP BY 1)
       |SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(margin) AS BIGINT) AS sum_margin,
       |  CAST(MIN(margin) AS BIGINT) AS min_margin,
       |  CAST(SUM(margin) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_margin
       |FROM top2 GROUP BY 1""".stripMargin

  /** D-lloyd2: the SECOND Lloyd round — the composability proof that
    * s_kmeans' quantized accumulators really are the next iterate's
    * input (the s_mmr_ivf convention: compose, then hash-gate the
    * composition). Round 1 assigns to the fixed lowest-id seeds
    * (identical to s_kmeans); centroids are then RECOMPUTED per
    * (cluster, dim) as mean of 1e-6-floored components — each
    * component one exact BIGINT sum and ONE IEEE division, so both
    * engines rebuild bit-identical centroid vectors; round 2
    * re-assigns the corpus against the rebuilt centroids through the
    * same pinned-fold cosine. Emits the per-cluster migration readout
    * (kept/arrived/size drift) a clustering job logs per iteration.
    *
    * Scale shape: round-1 assignment is the s_kmeans scan; the
    * centroid rebuild explodes members × dims but aggregates to a
    * k×dim frame immediately (map-side partials); round 2 is another
    * k-broadcast scan. Per-iteration cost = two corpus scans — the
    * canonical distributed Lloyd budget.
    */
  def sKmeansIter(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val seeds = c.orderBy("vec_id").limit(KmeansK)
      .select(col("vec_id").as("seed_id"), col("v").as("sv"))
    def assign(frame: DataFrame, cents: DataFrame): DataFrame =
      frame.crossJoin(broadcast(cents))
        .withColumn("cos", vec_cosine(col("v"), col("sv")))
        .groupBy("vec_id")
        .agg(max(struct(col("cos"), (-col("seed_id")).as("negseed"),
          col("seed_id"))).as("best"))
        .select(col("vec_id"), col("best.seed_id").as("cluster_id"))
    val a1 = graft.Stage.cached(assign(c, seeds))
    val cents2 = c.join(a1, Seq("vec_id"))
      .select(col("cluster_id"), posexplode(col("v")))
      .select(col("cluster_id"), col("pos").as("dim"),
        expr("CAST(FLOOR(col * 1000000.0D) AS BIGINT)").as("q"))
      .groupBy("cluster_id", "dim")
      .agg(sum("q").as("sq"), count(lit(1)).as("n"))
      .select(col("cluster_id"), col("dim"),
        (col("sq").cast("double") / col("n").cast("double")).as("cv"))
      .groupBy("cluster_id")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
        x => x.getField("cv")).as("sv"))
      .select(col("cluster_id").as("seed_id"), col("sv"))
    val a2 = assign(c, cents2)
    a1.join(a2.withColumnRenamed("cluster_id", "cluster2"), Seq("vec_id"))
      .groupBy(col("cluster2").as("cluster_id"))
      .agg(count(lit(1)).as("n_round2"),
        sum(when(col("cluster_id") === col("cluster2"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("cluster_id") =!= col("cluster2"), 1L).otherwise(0L)).as("n_arrived"))
  }

  val sKmeansIterSql: String =
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |seeds AS (
       |  SELECT vec_id AS seed_id, v AS sv FROM c ORDER BY vec_id LIMIT $KmeansK),
       |a1 AS (
       |  SELECT vec_id, seed_id AS cluster_id FROM (
       |    SELECT c.vec_id, s.seed_id,
       |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
       |        ORDER BY list_cosine_similarity(c.v, s.sv) DESC, s.seed_id) AS rn
       |    FROM c CROSS JOIN seeds s) WHERE rn = 1),
       |px AS (
       |  SELECT a1.cluster_id, d.dim,
       |    CAST(FLOOR(c.v[d.dim + 1] * 1000000.0) AS BIGINT) AS q
       |  FROM c JOIN a1 USING (vec_id)
       |  CROSS JOIN (SELECT unnest(range(0, $Dim)) AS dim) d),
       |cd AS (
       |  SELECT cluster_id, dim,
       |    CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS cv
       |  FROM px GROUP BY 1, 2),
       |cents AS (
       |  SELECT cluster_id AS seed_id, list(cv ORDER BY dim) AS sv
       |  FROM cd GROUP BY 1),
       |a2 AS (
       |  SELECT vec_id, seed_id AS cluster2 FROM (
       |    SELECT c.vec_id, s.seed_id,
       |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
       |        ORDER BY list_cosine_similarity(c.v, s.sv) DESC, s.seed_id) AS rn
       |    FROM c CROSS JOIN cents s) WHERE rn = 1)
       |SELECT a2.cluster2 AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_round2,
       |  CAST(SUM(CASE WHEN a1.cluster_id = a2.cluster2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  CAST(SUM(CASE WHEN a1.cluster_id != a2.cluster2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_arrived
       |FROM a1 JOIN a2 USING (vec_id)
       |GROUP BY 1""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("s_kmeans", sKmeans, Some(sKmeansSql)),
    QueryDef("s_kmeans_iter", sKmeansIter, Some(sKmeansIterSql)),
    QueryDef("s_silhouette", sSilhouette, Some(sSilhouetteSql)),
    QueryDef("s_ann_eval", sAnnEval, Some(sAnnEvalSql)),
    QueryDef("s_mmr", sMmr, Some(sMmrSql)),
    QueryDef("s_mmr_ivf", sMmrIvf, Some(sMmrIvfSql)),
    QueryDef("s_graph_search", sGraphSearch, Some(sGraphSearchSql)),
    QueryDef("s_hybrid", sHybrid, Some(sHybridSql)),
    QueryDef("s_ann_brute", sAnnBrute, Some(sAnnBruteSql)),
    QueryDef("s_range_search", sRangeSearch, Some(sRangeSearchSql)),
    QueryDef("s_ann_lsh", sAnnLsh, Some(sAnnLshSql)),
    QueryDef("s_ann_lsh_tune", sAnnLshTune, Some(sAnnLshTuneSql)),
    QueryDef("s_maxsim", sMaxsim, Some(sMaxsimSql)),
    QueryDef("s_triplet_mine", sTripletMine, Some(sTripletMineSql)),
    QueryDef("s_ann_ivf", sAnnIvf, Some(sAnnIvfSql)),
    QueryDef("s_ann_filtered", sAnnFiltered, Some(sAnnFilteredSql)),
    QueryDef("s_ann_pq", sAnnPq, Some(sAnnPqSql)),
    QueryDef("s_ann_ivfpq", sAnnIvfPq, Some(sAnnIvfPqSql)),
    QueryDef("s_ann_sq", sAnnSq, Some(sAnnSqSql)),
    QueryDef("s_knn_join", sKnnJoin, Some(sKnnJoinSql)),
    QueryDef("s_knn_refine", sKnnRefine, Some(sKnnRefineSql)),
    QueryDef("s_knn_classify", sKnnClassify, Some(sKnnClassifySql)),
  )
}
