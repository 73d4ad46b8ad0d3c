package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Embedding compression over `embeddings` (SURVEY §2.D) — int8
  * scalar quantization plus a similarity scan over the quantized
  * vectors: the storage/bandwidth half of ANN at scale. A 100 TB
  * float32 embedding store is 25 TB at int8 — the quantized scan is
  * what the first (recall-oriented) pass of a two-stage retrieval
  * pipeline reads, with exact re-ranking only on the surviving
  * candidates ([[Dedup.simTopkBruteforce]] is that second stage here).
  *
  * Everything stays hash-checkable: quantization is
  * `floor(x * scale + 0.5)` (explicit floor — Spark `round` half-even
  * vs DuckDB `round` half-away would diverge on exact .5 products),
  * the quantized dot/norms are EXACT integer sums (order-insensitive,
  * so any partitioning gives the same bits), and the only floating
  * steps are IEEE-exact: divisions, multiplies, and `sqrt` (correctly
  * rounded by IEEE 754, unlike `ln` — see [[Search]]).
  *
  * Scale notes: both operators are one narrow codegen'd pass per
  * vector (quantize) plus, for the scan, a broadcast of the tiny query
  * set against the quantized table — no shuffle at all on the corpus
  * side; at production scale the int8 table is the COLUMN you store,
  * so the scan reads a quarter of the float bytes.
  */
object Embed {

  /** Embeddings as double vectors (float→double widening is exact). */
  private def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Per-vector symmetric int8 quantization: `scale = 127 / max|x|`,
    * `q_i = floor(x_i * scale + 0.5)` ∈ [-127, 127]. Kept as an array
    * column for composition ([[simTopkInt8]] consumes it). */
  private[dedup] def quantized(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir)
      .withColumn("maxabs", expr("array_max(transform(v, x -> abs(x)))"))
      .filter(col("maxabs") > 0)
      .withColumn("scale", lit(127.0) / col("maxabs"))
      .withColumn("q", expr("transform(v, x -> CAST(floor(x * scale + 0.5e0) AS INT))"))

  /** embed_quantize — the quantized store, exploded to
    * (vec_id, pos, qv) rows with the per-vector scale and the integer
    * norm (so dequantization `qv / scale` and norm checks are
    * row-local). Exploded rather than an array column purely for the
    * gate's row-hash; the composition path keeps the array. */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    quantized(spark, dir)
      .withColumn("norm_sq", expr("aggregate(q, 0L, (acc, x) -> acc + CAST(x AS BIGINT) * CAST(x AS BIGINT))"))
      .select(col("vec_id"), col("scale"), col("norm_sq"), posexplode(col("q")).as(Seq("pos", "qv")))
      .select(col("vec_id"), col("pos"), col("qv"), col("scale"), col("norm_sq"))

  /** sim_topk_int8 — cosine top-5 neighbors for the query set
    * (vec_id < 10) computed entirely on the int8 vectors: integer dot
    * and norms (exact), one sqrt+divide per pair. The quantized
    * ranking is the cheap first stage; its disagreement vs the exact
    * [[Dedup.simTopkBruteforce]] ranking is the quantization error
    * (spec-measured overlap ≥ 4 of 5 in EmbedSpec). */
  def simTopkInt8(spark: SparkSession, dir: String): DataFrame =
    simTopkInt8Width(spark, dir, width = 5)

  /** sim_rerank — the two-stage retrieval composition end-to-end: the
    * int8 scan shortlists top-20 per query (cheap: quarter-width reads,
    * integer arithmetic), then ONLY those ≤ 20×|queries| candidates are
    * re-scored with the exact float cosine and cut to top-5. At scale
    * the first stage reads the int8 column of the whole store; the
    * second stage fetches float vectors for a candidate set that no
    * longer depends on corpus size — the standard recall-then-precision
    * funnel. Output ranks by the EXACT score, so quantization error
    * only costs recall (a true neighbor missing from the shortlist),
    * never precision of the returned ordering; the overlap spec in
    * EmbedSpec measures exactly that residual. */
  def simRerank(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    val shortlist = simTopkInt8Width(spark, dir, width = 20)
      .select(col("q_id"), col("neighbor"))
    val v = vecs(spark, dir)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("neighbor"))
    shortlist
      .join(v.select(col("vec_id").as("q_id"), col("v").as("vq")), Seq("q_id"))
      .join(v.select(col("vec_id").as("neighbor"), col("v").as("vn")), Seq("neighbor"))
      .withColumn("cosine", expr("cosine_sim(vq, vn)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("neighbor"), col("cosine"), col("rk"))
  }

  /** [[simTopkInt8]] with a configurable shortlist width (the
    * recall/cost dial of the first stage). */
  private def simTopkInt8Width(spark: SparkSession, dir: String, width: Int): DataFrame = {
    val qz = quantized(spark, dir).select(col("vec_id"), col("q"))
    val qs = qz.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("q").as("qa"))
    val ts = qz.select(col("vec_id").as("neighbor"), col("q").as("qb"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine_q").desc, col("neighbor"))
    broadcast(qs).join(ts, col("q_id") =!= col("neighbor"))
      .withColumn("dot", expr(
        "aggregate(zip_with(qa, qb, (x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)), 0L, (acc, x) -> acc + x)"))
      .withColumn("na", expr("aggregate(qa, 0L, (acc, x) -> acc + CAST(x AS BIGINT) * CAST(x AS BIGINT))"))
      .withColumn("nb", expr("aggregate(qb, 0L, (acc, x) -> acc + CAST(x AS BIGINT) * CAST(x AS BIGINT))"))
      .withColumn("cosine_q", col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= width)
      .select(col("q_id"), col("neighbor"), col("cosine_q"), col("rk"))
  }

  // ---- product quantization (embed_pq_encode / sim_ann_pq) ------------

  /** Unit-normalized vectors — the L2 codebook induces cosine geometry
    * on these (same construction as [[Dedup.annIvf]]); zero vectors
    * have no direction and are excluded. */
  private def unitVecs(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir)
      .withColumn("nrm", expr("sqrt(aggregate(v, 0D, (a, x) -> a + x*x))"))
      .filter(col("nrm") > 0)
      .withColumn("u", expr("transform(v, x -> x / nrm)"))

  /** The fitted codebook as a nested array literal — identical bits in
    * the Spark plan and the DuckDB oracle (java Double.toString is the
    * shortest uniquely-identifying rendering; both parsers are
    * correctly rounded). */
  private val cbLit: Column =
    typedLit(PqCodebook.codebook.map(_.map(_.toVector).toVector).toVector)

  /** Per-row PQ encoder, higher-order-function form — kept as the
    * readable reference implementation; the QUERY path uses the native
    * [[graft.functions.PqEncode]] expression (fused codegen loop over
    * the flat codebook — the HOF tree interprets per element), and
    * FunctionsSpec asserts the two are bit-identical. First-minimum
    * tie-break via array_position — deterministic in both engines. */
  private[graft] def pqCodesHof(u: Column): Column = {
    import PqCodebook.{DSub, K, M}
    val subCodes = (0 until M).map { j =>
      val dists = transform(sequence(lit(0), lit(K - 1)), cc =>
        aggregate(sequence(lit(0), lit(DSub - 1)), lit(0.0), (a, i) => {
          val x = element_at(u, (i + lit(j * DSub + 1)).cast("int"))
          val c = element_at(element_at(element_at(cbLit, lit(j + 1)), (cc + 1).cast("int")),
            (i + 1).cast("int"))
          a + (x - c) * (x - c)
        }))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    array(subCodes: _*)
  }

  /** Asymmetric-distance computation, HOF reference form (query path
    * uses native [[graft.functions.PqAdc]]; spec-asserted identical):
    * exact query subvector against the target's CODEWORDS — sum over
    * subspaces of ||q_sub − codeword(code_j)||². The target's floats
    * are never read: the scan touches only the 8-byte code column. */
  private[graft] def adcDistHof(uq: Column, codes: Column): Column = {
    import PqCodebook.{DSub, M}
    aggregate(sequence(lit(0), lit(M - 1)), lit(0.0), (acc, j) =>
      acc + aggregate(sequence(lit(0), lit(DSub - 1)), lit(0.0), (ai, i) => {
        val x = element_at(uq, (j * lit(DSub) + i + 1).cast("int"))
        val c = element_at(element_at(element_at(cbLit, (j + 1).cast("int")),
          (element_at(codes, (j + 1).cast("int")) + 1).cast("int")), (i + 1).cast("int"))
        ai + (x - c) * (x - c)
      }))
  }

  /** embed_pq_encode — the PQ code store: per vector its 16×4-bit
    * code word (8 bytes; rendered `c0-c1-…-c15` for the dump) and the
    * reconstruction error ||u − codeword(u)||² (the quantization
    * loss — ADC of a vector against its own codes). One codegen'd
    * pass, no shuffle; the production store writes the code column
    * next to the floats and scans ONLY codes for first-stage
    * retrieval. */
  def embedPqEncode(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    unitVecs(spark, dir)
      .withColumn("codes", expr("pq_encode(u)"))
      .select(col("vec_id"),
        array_join(transform(col("codes"), c => c.cast("string")), "-").as("pq_code"),
        expr("pq_adc(u, codes)").as("recon_err"))
  }

  /** sim_ann_pq — the PQ retrieval funnel (the FAISS-default shape):
    * an exhaustive ADC scan over the 8-byte code column shortlists the
    * 50 nearest codes per query (vec_id < 10, ascending asymmetric
    * distance — L2 on unit vectors is a monotone proxy for cosine),
    * then ONLY those candidates are re-scored with the exact float
    * cosine and cut to top-5. This is the third ANN family beside the
    * hyperplane LSH (bucket pruning) and IVF (list pruning): PQ prunes
    * BYTES, not candidates — the first stage reads 32× less than
    * float32 — and composes with IVF (IVFADC) when both prunings are
    * wanted. Funnel recall@5 vs the exact baseline is spec-measured
    * (raw ADC ≈ 0.4 on this near-uniform data, funnel 0.90 at
    * shortlist 50, sf0.01); returned ORDERING is exact by
    * construction.
    * Fully oracle-replayed: the committed codebook makes both engines
    * compute identical distances. */
  def simAnnPq(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    val unit = unitVecs(spark, dir)
    val enc = unit.withColumn("codes", expr("pq_encode(u)"))
      .select(col("vec_id").as("neighbor"), col("codes"))
    val qs = unit.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q"), col("u").as("uq"))
    val wAdc = Window.partitionBy(col("q")).orderBy(col("adc"), col("neighbor"))
    val shortlist = broadcast(qs).join(enc, col("q") =!= col("neighbor"))
      .withColumn("adc", expr("pq_adc(uq, codes)"))
      .withColumn("rk0", row_number().over(wAdc))
      .filter(col("rk0") <= 50)
      .select(col("q"), col("uq"), col("neighbor"))
    val wCos = Window.partitionBy(col("q")).orderBy(col("cosine").desc, col("neighbor"))
    shortlist
      .join(unit.select(col("vec_id").as("neighbor"), col("u").as("un")), Seq("neighbor"))
      .withColumn("cosine", aggregate(zip_with(col("uq"), col("un"), (x, y) => x * y),
        lit(0.0), (a, x) => a + x))
      .withColumn("rk", row_number().over(wCos))
      .filter(col("rk") <= 5)
      .select(col("q"), col("neighbor"), col("cosine"), col("rk"))
  }

  /** Hashing-trick dimensionality for [[embedHash]]. */
  val HashDim = 64

  /** embed_hash — MODEL-FREE document embeddings by signed feature
    * hashing (Weinberger et al. 2009, the "hashing trick"): every
    * token lands in dimension `md5(w) mod 64` with sign from the next
    * hash bit, per-doc weights are the exact integer signed counts,
    * zero-sum dimensions drop (canonical sparse form). The
    * deterministic text→vector step that gives the similarity /
    * semantic-dedup operators an embedding column without any model
    * artifact — md5 replaces both the vocabulary and the projection
    * matrix, so the embedding of a document is a pure function of its
    * text, rerun-identical on any cluster layout.
    *
    * Emitted long/sparse: `(doc_id, dim, weight)` — exact integers,
    * order-independent sums, fully oracle-replayable (the dense
    * normalized view is one `collect_list` + norm away and stays in
    * the consumer, where its floats belong).
    *
    * Scale: one codegen'd scan → explode → map-side-partial groupBy
    * on (doc_id, dim) — dedup_exact's shuffle budget; dimensionality
    * is the literal knob. */
  def embedHash(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
    toks
      .withColumn("dim", expr(s"CAST(md5_p60(w) % $HashDim AS INT)"))
      .withColumn("sgn", expr(s"CASE WHEN (md5_p60(w) div $HashDim) % 2 = 0 THEN 1 ELSE -1 END"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("sgn")).as("weight"))
      .filter(col("weight") =!= 0)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_quantize" -> (embedQuantize _),
    "sim_topk_int8"  -> (simTopkInt8 _),
    "sim_rerank"     -> (simRerank _),
    "embed_pq_encode" -> (embedPqEncode _),
    "sim_ann_pq"     -> (simAnnPq _),
    "embed_hash"     -> (embedHash _))

  val oracles: Map[String, String] = {
    // DuckDB twin of `quantized`: FLOAT[] → DOUBLE elementwise, then
    // the same floor(x*scale + 0.5) tree. DuckDB lists are 1-based;
    // Spark posexplode emits 0-based pos, hence the `i - 1`.
    val qCte =
      """qz AS (
        |  SELECT vec_id, 127.0e0 / maxabs AS scale,
        |    list_transform(v, x -> CAST(floor(x * (127.0e0 / maxabs) + 0.5e0) AS INTEGER)) AS q
        |  FROM (
        |    SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS maxabs
        |    FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |          FROM embeddings))
        |  WHERE maxabs > 0)""".stripMargin
    Map(
      "embed_quantize" ->
        s"""WITH $qCte
           |SELECT vec_id,
           |  CAST(unnest(range(0, len(q))) AS INTEGER) AS pos,
           |  unnest(q) AS qv,
           |  scale,
           |  CAST(list_sum(list_transform(q, x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS norm_sq
           |FROM qz""".stripMargin,
      "sim_rerank" ->
        // stage 1 = the sim_topk_int8 pipeline at width 20; stage 2
        // re-scores only the shortlist with the exact double cosine
        // (list_dot_product / sqrt folds proven bit-identical to the
        // native cosine_sim by the dedup_embedding oracle)
        s"""WITH $qCte,
           |vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
           |pairs AS (
           |  SELECT a.vec_id AS q_id, b.vec_id AS neighbor,
           |    CAST(list_sum(list_transform(range(1, len(a.q) + 1),
           |      i -> CAST(a.q[i] AS BIGINT) * CAST(b.q[i] AS BIGINT))) AS BIGINT) AS dot,
           |    CAST(list_sum(list_transform(a.q, x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS na,
           |    CAST(list_sum(list_transform(b.q, x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS nb
           |  FROM qz a JOIN qz b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
           |shortlist AS (
           |  SELECT q_id, neighbor,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) DESC,
           |        neighbor) AS rk0
           |  FROM pairs QUALIFY rk0 <= 20),
           |rescored AS (
           |  SELECT s.q_id, s.neighbor,
           |    list_dot_product(qv.v, nv.v) / (sqrt(list_dot_product(qv.v, qv.v)) * sqrt(list_dot_product(nv.v, nv.v))) AS cosine
           |  FROM shortlist s
           |  JOIN vv qv ON qv.vec_id = s.q_id
           |  JOIN vv nv ON nv.vec_id = s.neighbor)
           |SELECT q_id, neighbor, cosine,
           |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor) AS INTEGER) AS rk
           |FROM rescored QUALIFY rk <= 5""".stripMargin,
      "sim_topk_int8" ->
        s"""WITH $qCte,
           |pairs AS (
           |  SELECT a.vec_id AS q_id, b.vec_id AS neighbor,
           |    CAST(list_sum(list_transform(range(1, len(a.q) + 1),
           |      i -> CAST(a.q[i] AS BIGINT) * CAST(b.q[i] AS BIGINT))) AS BIGINT) AS dot,
           |    CAST(list_sum(list_transform(a.q, x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS na,
           |    CAST(list_sum(list_transform(b.q, x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS nb
           |  FROM qz a JOIN qz b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
           |scored AS (
           |  SELECT q_id, neighbor,
           |    CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine_q
           |  FROM pairs)
           |SELECT q_id, neighbor, cosine_q,
           |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine_q DESC, neighbor) AS INTEGER) AS rk
           |FROM scored QUALIFY rk <= 5""".stripMargin) ++ pqOracles
  }

  /** DuckDB replay of the PQ pipeline. The committed codebook renders
    * as a nested list literal; every double fold is an ORDERED
    * left-reduce seeded with 0.0 (list_prepend + list_reduce), exactly
    * Spark's `aggregate(seq, 0D, (a, x) -> a + t)` — 0.0 + t0 == t0 in
    * IEEE, so the sums are bit-identical. */
  private def pqOracles: Map[String, String] = {
    import PqCodebook.{DSub, K, M}
    import graft.util.Exact.{duckDouble, duckSum}
    // every codeword as an E-notation DOUBLE literal (see duckDouble)
    val cbSql = PqCodebook.codebook
      .map(_.map(_.map(duckDouble).mkString("[", ", ", "]")).mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")
    val unitCte =
      s"""uv AS (
         |  SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM (
         |    SELECT vec_id, v,
         |      sqrt(${duckSum("list_transform(v, x -> x * x)")}) AS nrm
         |    FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |          FROM embeddings))
         |  WHERE nrm > 0)""".stripMargin
    val subDist = // ||u[j·DSub ..] − cb[j+1][cc+1]||², j/cc 0-based
      duckSum(s"""list_transform(range(0, $DSub), i ->
              |        (u[j * $DSub + i + 1] - cb[j + 1][cc + 1][i + 1])
              |        * (u[j * $DSub + i + 1] - cb[j + 1][cc + 1][i + 1]))""".stripMargin)
    val encCte =
      s"""enc AS (
         |  SELECT vec_id, u,
         |    list_transform(range(0, $M), j -> CAST(
         |      list_position(dists_of(u, j), list_min(dists_of(u, j))) - 1 AS INTEGER)) AS codes
         |  FROM (SELECT vec_id, u, CAST($cbSql AS DOUBLE[][][]) AS cb FROM uv))""".stripMargin
    // DuckDB has no helper macros here — inline dists_of via a lateral
    // rewrite: compute the per-subspace distance list inside the
    // lambda. (list_transform over cc nested under j.)
    val distsInline =
      s"""list_transform(range(0, $K), cc -> $subDist)"""
    val encCteInline = encCte.replace("dists_of(u, j)", distsInline)
    val adcExpr = // query u against codes: codeword = cb[j+1][codes[j+1]+1]
      duckSum(s"""list_transform(range(0, $M), j ->
              |      ${duckSum(s"""list_transform(range(0, $DSub), i ->
              |          (uq[j * $DSub + i + 1] - cb[j + 1][codes[j + 1] + 1][i + 1])
              |          * (uq[j * $DSub + i + 1] - cb[j + 1][codes[j + 1] + 1][i + 1]))""".stripMargin)})""".stripMargin)
    Map(
      "embed_pq_encode" ->
        s"""WITH $unitCte,
           |$encCteInline
           |SELECT vec_id,
           |  array_to_string(list_transform(codes, x -> x::VARCHAR), '-') AS pq_code,
           |  ${adcExpr.replace("uq[", "u[")} AS recon_err
           |FROM (SELECT vec_id, u, codes, CAST($cbSql AS DOUBLE[][][]) AS cb FROM enc)""".stripMargin,
      "sim_ann_pq" ->
        s"""WITH $unitCte,
           |$encCteInline,
           |pairs AS (
           |  SELECT q.vec_id AS q, q.uq, t.vec_id AS neighbor,
           |    $adcExpr AS adc
           |  FROM (SELECT vec_id, u AS uq, CAST($cbSql AS DOUBLE[][][]) AS cb FROM uv WHERE vec_id < 10) q
           |  JOIN (SELECT vec_id, codes FROM enc) t ON q.vec_id <> t.vec_id),
           |shortlist AS (
           |  SELECT q, uq, neighbor,
           |    row_number() OVER (PARTITION BY q ORDER BY adc, neighbor) AS rk0
           |  FROM pairs QUALIFY rk0 <= 50),
           |rescored AS (
           |  SELECT s.q, s.neighbor,
           |    ${duckSum("list_transform(range(1, len(s.uq) + 1), i -> s.uq[i] * n.u[i])")} AS cosine
           |  FROM shortlist s JOIN uv n ON n.vec_id = s.neighbor)
           |SELECT q, neighbor, cosine,
           |  CAST(row_number() OVER (PARTITION BY q ORDER BY cosine DESC, neighbor) AS INTEGER) AS rk
           |FROM rescored QUALIFY rk <= 5""".stripMargin,
      // md5 replay of the hashing trick: same p60 prefix, same
      // dim / sign-bit arithmetic, zero-sum dims dropped in both
      "embed_hash" ->
        s"""WITH toks AS (
           |  SELECT doc_id, w FROM (
           |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents) t
           |  WHERE w <> ''),
           |h AS (SELECT doc_id, ${Md5Bits.p60Sql("w")} AS hv FROM toks)
           |SELECT doc_id, CAST(hv % $HashDim AS INTEGER) AS dim,
           |  CAST(SUM(CASE WHEN (hv // $HashDim) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS weight
           |FROM h GROUP BY 1, 2
           |HAVING SUM(CASE WHEN (hv // $HashDim) % 2 = 0 THEN 1 ELSE -1 END) <> 0""".stripMargin)
  }
}
