package graft.operators

import graft.Util._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over `embeddings.embedding` (ArrayType(FloatType),
  * 64-dim): brute-force cosine top-k as the exact baseline, plus an
  * IVF-style coarse-quantizer variant as the scale path (assign every
  * vector to its nearest centroid, probe only the matching cell — the
  * candidate set shrinks by ~|cells|, per the distributed top-k search
  * literature in PAPERS.md).
  *
  * Dot products run via codegen-friendly higher-order functions
  * (`zip_with` + `aggregate`) in double precision, left-to-right — the
  * same fold order DuckDB's list functions use, so scores hash-match.
  *
  * Scale: probes/centroids are broadcast (tiny side), so the fact-side
  * embedding scan never shuffles; per-probe top-k is a ranked window over
  * probe-partitioned data. At 100 TB the same plan holds: broadcast the
  * probe set, scan+score in place, two-phase top-k.
  */
object SimilarityOps {

  /** Double-precision dot product of two float-array columns — the
    * codegen'd native expression ([[graft.functions.VectorDot]]); queries
    * register it per session. [[hofDot]] is the built-in higher-order-
    * function formulation, kept for the bit-equality spec.
    */
  private def dot(a: String, b: String): String = s"vector_dot($a, $b)"

  /** Built-in (interpreted) formulation of the same fold. */
  def hofDot(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (s, v) -> s + v)"

  private def cos(a: String, b: String): String =
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"

  /** DuckDB twin of the raw double dot product. */
  private def cosSqlDot(a: String, b: String): String =
    s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"

  /** DuckDB twin: identical formula over DOUBLE[] casts. */
  private def cosSql(a: String, b: String): String =
    s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))" +
      s" / (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])))" +
      s" * sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[]))))"

  /** DuckDB twin of [[graft.api.Similarity.withNorm]]'s zero-norm row
    * drop — every oracle carries it so the cross-engine contract holds
    * even for corpora containing zero/NaN embeddings (the harness data
    * has none, but the SQL documents the executable semantics).
    */
  private def posNormSql(e: String): String =
    s"list_dot_product(CAST($e AS DOUBLE[]), CAST($e AS DOUBLE[])) > 0"

  /** The harness embeddings table, pre-spread across cores (single small
    * file → 1 scan task otherwise) for the dot-product-heavy stages.
    */
  private def emb(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")

  /** q42: brute-force cosine top-5 neighbors for probe vectors vec_id<10
    * via [[graft.api.Similarity.cosineKnn]] (norms computed once per
    * vector; sim = dot / (norm_p·norm_c), bit-identical to the pairwise
    * dot/(sqrt·sqrt) the oracle evaluates).
    */
  def q42CosineKnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = emb(spark, dir)
    graft.api.Similarity.cosineKnn(corpus, corpus.filter($"vec_id" < 10),
        "vec_id", "embedding", k = 5)
      .orderBy($"probe_id", $"rn")
  }

  val q42Sql: String =
    s"""SELECT probe_id, rn, cand_id, sim FROM (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |    ${cosSql("p.embedding", "c.embedding")} AS sim,
       |    ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |      ORDER BY ${cosSql("p.embedding", "c.embedding")} DESC, c.vec_id) AS rn
       |  FROM embeddings p JOIN embeddings c ON c.vec_id <> p.vec_id
       |  WHERE p.vec_id < 10
       |    AND ${posNormSql("p.embedding")} AND ${posNormSql("c.embedding")})
       |WHERE rn <= 5 ORDER BY probe_id, rn""".stripMargin

  /** q43: IVF-style ANN — centroids are vectors vec_id<16; every vector is
    * assigned to its max-cosine centroid (the coarse quantizer); probes
    * vec_id in [100,110) search only their own cell, top-3.
    */
  def q43IvfKnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = emb(spark, dir)
    val assigned = graft.api.Similarity.ivfAssign(corpus,
      corpus.filter($"vec_id" < 16), "vec_id", "embedding")
    graft.api.Similarity.ivfKnn(assigned,
        $"vec_id" >= 100 && $"vec_id" < 110, "vec_id", "embedding", k = 3)
      .orderBy($"probe_id", $"rn")
  }

  /** Shared IVF coarse-assignment CTE (centroids = vec_id < 16), the
    * DuckDB twin of [[graft.api.Similarity.ivfAssign]] — used by q43 and
    * q82.
    */
  private val assignSql: String =
    s"""assign AS (
       |  SELECT vec_id, embedding, cent_id AS cluster FROM (
       |    SELECT e.vec_id, e.embedding, c.vec_id AS cent_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("c.embedding", "e.embedding")} DESC, c.vec_id) AS arn
       |    FROM embeddings e JOIN embeddings c ON c.vec_id < 16
       |    WHERE ${posNormSql("e.embedding")} AND ${posNormSql("c.embedding")})
       |  WHERE arn = 1)""".stripMargin

  val q43Sql: String =
    s"""WITH $assignSql,
       |probes AS (
       |  SELECT vec_id AS probe_id, embedding AS p_emb, cluster
       |  FROM assign WHERE vec_id >= 100 AND vec_id < 110)
       |SELECT probe_id, rn, cluster, cand_id, sim FROM (
       |  SELECT p.probe_id, p.cluster, c.vec_id AS cand_id,
       |    ${cosSql("p.p_emb", "c.embedding")} AS sim,
       |    ROW_NUMBER() OVER (PARTITION BY p.probe_id
       |      ORDER BY ${cosSql("p.p_emb", "c.embedding")} DESC, c.vec_id) AS rn
       |  FROM probes p JOIN assign c ON c.cluster = p.cluster AND c.vec_id <> p.probe_id)
       |WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin

  /** q45: the same top-k semantics via the typed [[graft.functions.TopKAggregator]]
    * registered with `udaf()` — partial aggregation reduces every partition
    * to ≤k candidates before the shuffle (two-phase top-k, the 100 TB
    * formulation), oracle-checked against the declarative ranked window.
    */
  def q45TopkUdaf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val topk = udaf(new graft.functions.TopKAggregator(3))
    val emb = table(spark, dir, "embeddings")
      .withColumn("norm", expr(s"sqrt(${dot("embedding", "embedding")})"))
    val probes = emb.filter($"vec_id" >= 10 && $"vec_id" < 20)
      .select($"vec_id".as("probe_id"), $"embedding".as("p_emb"), $"norm".as("p_norm"))
    val cands = emb.select($"vec_id".as("cand_id"), $"embedding".as("c_emb"), $"norm".as("c_norm"))
    cands.crossJoin(broadcast(probes))
      .filter($"cand_id" =!= $"probe_id")
      .withColumn("sim", expr(dot("p_emb", "c_emb")) / ($"p_norm" * $"c_norm"))
      .groupBy($"probe_id")
      .agg(topk($"cand_id", $"sim").as("top"))
      .select($"probe_id", posexplode($"top"))
      .select($"probe_id", ($"pos" + 1).cast("long").as("rn"),
        $"col.id".as("cand_id"), $"col.score".as("sim"))
      .orderBy($"probe_id", $"rn")
  }

  val q45Sql: String =
    s"""SELECT probe_id, rn, cand_id, sim FROM (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |    ${cosSql("p.embedding", "c.embedding")} AS sim,
       |    ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |      ORDER BY ${cosSql("p.embedding", "c.embedding")} DESC, c.vec_id) AS rn
       |  FROM embeddings p JOIN embeddings c ON c.vec_id <> p.vec_id
       |  WHERE p.vec_id >= 10 AND p.vec_id < 20
       |    AND ${posNormSql("p.embedding")} AND ${posNormSql("c.embedding")})
       |WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin

  /** q49: embedding-cosine near-duplicate pairs (all pairs with sim ≥
    * 0.45, a<b). Exact all-pairs here; at 100 TB the blocked variant is
    * q43's IVF assignment (compare within cells only) — this query is the
    * exact baseline the blocked path is measured against.
    */
  def q49EmbedNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.api.Similarity.nearDupPairs(emb(spark, dir), "vec_id", "embedding", 0.45)
      .select($"id_a".as("vec_a"), $"id_b".as("vec_b"), $"sim")
      .orderBy($"vec_a", $"vec_b")
  }

  val q49Sql: String =
    s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${cosSql("a.embedding", "b.embedding")} AS sim
       |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.45
       |  AND ${posNormSql("a.embedding")} AND ${posNormSql("b.embedding")}
       |ORDER BY vec_a, vec_b""".stripMargin

  /** q82: BLOCKED embedding near-dup pairs — q49's semantics restricted
    * to within-IVF-cell pairs ([[graft.api.Similarity.ivfNearDupPairs]]):
    * the 10⁹-vector plan (equi-join shuffle on cluster, no corpus
    * broadcast, Σ|cell|² work). Emitted pairs ⊆ q49's exact output;
    * recall vs exact is measured in ApiSpec.
    */
  def q82IvfNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = emb(spark, dir)
    val assigned = graft.api.Similarity.ivfAssign(corpus,
      corpus.filter($"vec_id" < 16), "vec_id", "embedding")
    graft.api.Similarity.ivfNearDupPairs(assigned, "vec_id", "embedding", 0.45)
      .select($"id_a".as("vec_a"), $"id_b".as("vec_b"), $"sim")
      .orderBy($"vec_a", $"vec_b")
  }

  val q82Sql: String =
    s"""WITH $assignSql
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${cosSql("a.embedding", "b.embedding")} AS sim
       |FROM assign a JOIN assign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.45
       |ORDER BY vec_a, vec_b""".stripMargin

  /** q123: SemDeDup-style semantic deduplication report
    * ([[graft.api.Similarity.semanticDedupReport]], after Abbas et al.
    * 2023, arXiv:2303.09540): cluster the corpus with the deterministic
    * coarse quantizer (centroids = vec_id < 16, as q43/q82), flag the
    * higher-id side of every within-cluster pair at cosine ≥ 0.45, and
    * report per cluster how much survives — the curation audit a
    * pipeline publishes alongside its deduplicated corpus. Scale shape
    * is q82's pair scan (equi-join shuffle on cluster, Σ|cell|², no
    * broadcast) plus a distinct + left join on the id — nothing
    * quadratic in the corpus, no RNG (lowest id is the representative).
    */
  def q123SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = emb(spark, dir)
    val assigned = graft.api.Similarity.ivfAssign(corpus,
      corpus.filter($"vec_id" < 16), "vec_id", "embedding")
    graft.api.Similarity.semanticDedupReport(assigned, "vec_id",
        "embedding", 0.45)
      .orderBy($"cluster")
  }

  val q123Sql: String =
    s"""WITH $assignSql,
       |drops AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM assign a JOIN assign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.45)
       |SELECT e.cluster, COUNT(*) AS n_vecs, COUNT(d.vec_id) AS n_dropped,
       |  COUNT(*) - COUNT(d.vec_id) AS n_kept
       |FROM assign e LEFT JOIN drops d ON e.vec_id = d.vec_id
       |GROUP BY e.cluster ORDER BY e.cluster""".stripMargin

  /** q125: incremental semantic dedup
    * ([[graft.api.Similarity.semanticDedupAgainstReport]]) — the
    * continuous-ingest half of q123: an arriving batch (vec_id % 10 =
    * 7) is admitted only where no corpus member of its cell and no
    * lower-id batch sibling of its cell dominates it at cosine ≥ 0.45.
    * Both sides are assigned with the CORPUS's quantizer (centroids =
    * corpus vec_id < 16 — the batch never re-trains the cells it is
    * judged against). Work is proportional to the batch's cell
    * collisions, never the corpus size; the per-cell admission report
    * is what an ingest gate publishes per micro-batch.
    */
  def q125IncrementalSemdedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = emb(spark, dir)
    val corpus = all.filter($"vec_id" % 10 =!= 7)
    val batch = all.filter($"vec_id" % 10 === 7)
    val cents = corpus.filter($"vec_id" < 16)
    val aCorpus = graft.api.Similarity.ivfAssign(corpus, cents, "vec_id", "embedding")
    val aBatch = graft.api.Similarity.ivfAssign(batch, cents, "vec_id", "embedding")
    graft.api.Similarity.semanticDedupAgainstReport(aBatch, aCorpus,
        "vec_id", "embedding", 0.45)
      .orderBy($"cluster")
  }

  val q125Sql: String =
    s"""WITH cents AS (
       |  SELECT vec_id AS cent_id, embedding AS c_emb FROM embeddings
       |  WHERE vec_id < 16 AND vec_id % 10 <> 7 AND ${posNormSql("embedding")}),
       |asg AS (
       |  SELECT vec_id, embedding, cent_id AS cluster, is_batch FROM (
       |    SELECT e.vec_id, e.embedding, c.cent_id,
       |      (e.vec_id % 10 = 7) AS is_batch,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("c.c_emb", "e.embedding")} DESC, c.cent_id) AS arn
       |    FROM embeddings e CROSS JOIN cents c
       |    WHERE ${posNormSql("e.embedding")})
       |  WHERE arn = 1),
       |batch AS (SELECT vec_id, embedding, cluster FROM asg WHERE is_batch),
       |corp AS (SELECT vec_id, embedding, cluster FROM asg WHERE NOT is_batch),
       |cdrop AS (
       |  SELECT DISTINCT b.vec_id FROM batch b JOIN corp c ON c.cluster = b.cluster
       |  WHERE ${cosSql("c.embedding", "b.embedding")} >= 0.45),
       |bdrop AS (
       |  SELECT DISTINCT b2.vec_id
       |  FROM batch b1 JOIN batch b2 ON b1.cluster = b2.cluster AND b1.vec_id < b2.vec_id
       |  WHERE ${cosSql("b1.embedding", "b2.embedding")} >= 0.45)
       |SELECT b.cluster, COUNT(*) AS n_batch,
       |  COUNT(c.vec_id) AS n_dropped_corpus,
       |  COUNT(CASE WHEN c.vec_id IS NULL THEN d.vec_id END) AS n_dropped_batch,
       |  COUNT(CASE WHEN c.vec_id IS NULL AND d.vec_id IS NULL THEN 1 END) AS n_admitted
       |FROM batch b
       |LEFT JOIN cdrop c ON b.vec_id = c.vec_id
       |LEFT JOIN bdrop d ON b.vec_id = d.vec_id
       |GROUP BY b.cluster ORDER BY b.cluster""".stripMargin

  /** q126: product-quantization encode audit
    * ([[graft.api.Similarity.pqEncodeDetailed]], after Jégou et al.
    * 2011) — the embedding splits into 8 subspaces of 8 components;
    * each (vector, subspace) slice maps to its L2-nearest codeword of a
    * deterministic pseudo-codebook (codewords = the slices of vectors
    * vec_id < 16, the q43 pseudo-centroid trick), and the report rolls
    * up codeword occupancy and reconstruction error per (sub, code) —
    * the codebook-health audit (dead codewords, per-cell distortion) a
    * PQ index publishes. Both engines argmin the SAME expression
    * (‖c‖² − 2·x·c, ties to the lowest code), so near-tie rounding
    * cannot disagree; production codebooks come from
    * [[graft.api.Similarity.pqTrainCodebooks]] (ApiSpec: training beats
    * the pseudo-codebook, ADC recall floor).
    */
  def q126PqEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = emb(spark, dir)
    val cb = graft.api.Similarity.pqCodebookFromIds(
      corpus, "vec_id", "embedding", m = 8, k = 16)
    graft.api.Similarity.pqEncodeDetailed(corpus, cb, "vec_id", "embedding", m = 8)
      .groupBy($"sub", $"code")
      .agg(
        count(lit(1)).as("n_vecs"),
        round(avg($"dist2"), 4).as("avg_dist2"),
        round(min($"dist2"), 4).as("min_dist2"),
        round(max($"dist2"), 4).as("max_dist2"))
      .orderBy($"sub", $"code")
  }

  val q126Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
       |  WHERE embedding IS NOT NULL),
       |sv AS (
       |  SELECT vec_id, s.sub, emb[(s.sub * 8 + 1):(s.sub * 8 + 8)] AS subv
       |  FROM e CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) s),
       |cw AS (SELECT sub, vec_id AS code, subv AS cwv FROM sv WHERE vec_id < 16),
       |d AS (
       |  SELECT v.vec_id, v.sub, c.code,
       |    list_dot_product(v.subv, v.subv) +
       |      (list_dot_product(c.cwv, c.cwv) - 2 * list_dot_product(v.subv, c.cwv)) AS dist2,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
       |      ORDER BY (list_dot_product(c.cwv, c.cwv) - 2 * list_dot_product(v.subv, c.cwv)),
       |        c.code) AS rn
       |  FROM sv v JOIN cw c ON c.sub = v.sub)
       |SELECT sub, code, COUNT(*) AS n_vecs,
       |  round(AVG(dist2), 4) AS avg_dist2,
       |  round(MIN(dist2), 4) AS min_dist2,
       |  round(MAX(dist2), 4) AS max_dist2
       |FROM d WHERE rn = 1
       |GROUP BY sub, code ORDER BY sub, code""".stripMargin

  /** q83: exact top-3 for a LARGE probe set (10% of the corpus — far
    * beyond the broadcast contract of q42) via
    * [[graft.api.Similarity.cosineKnnShuffled]]: block-partitioned
    * shuffle-hash join + two-phase top-k aggregator, no broadcast of
    * either side.
    */
  def q83KnnShuffled(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = emb(spark, dir)
    graft.api.Similarity.cosineKnnShuffled(corpus,
        corpus.filter($"vec_id" % 10 === 0), "vec_id", "embedding", k = 3,
        blocks = 8)
      .orderBy($"probe_id", $"rn")
  }

  val q83Sql: String =
    s"""SELECT probe_id, rn, cand_id, sim FROM (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |    ${cosSql("p.embedding", "c.embedding")} AS sim,
       |    ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |      ORDER BY ${cosSql("p.embedding", "c.embedding")} DESC, c.vec_id) AS rn
       |  FROM embeddings p JOIN embeddings c ON c.vec_id <> p.vec_id
       |  WHERE p.vec_id % 10 = 0
       |    AND ${posNormSql("p.embedding")} AND ${posNormSql("c.embedding")})
       |WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin

  /** q52: per-(label, dimension) embedding statistics via posexplode —
    * the array-column analytics path (min/max/count are order-insensitive
    * and exact on floats, so no summation-order hazard).
    */
  def q52EmbedDimStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "embeddings")
      .select($"label", posexplode($"embedding").as(Seq("dim", "v")))
      .filter($"dim" < 8)
      .groupBy($"label", $"dim".cast("long").as("dim"))
      .agg(
        min($"v").cast("double").as("min_v"),
        max($"v").cast("double").as("max_v"),
        count(lit(1)).as("n"))
      .orderBy($"label", $"dim")
  }

  val q52Sql: String =
    """SELECT label, CAST(dim AS BIGINT) AS dim,
      |  CAST(MIN(v) AS DOUBLE) AS min_v,
      |  CAST(MAX(v) AS DOUBLE) AS max_v,
      |  COUNT(*) AS n
      |FROM (SELECT label, unnest(embedding) AS v,
      |        unnest(range(len(embedding))) AS dim
      |      FROM embeddings)
      |WHERE dim < 8
      |GROUP BY label, dim ORDER BY label, dim""".stripMargin

  /** q76: per-label centroids (the k-means update step) — mean embedding
    * per label over the first 8 dimensions; posexplode + partial hash agg
    * means each executor contributes one partial (sum, count) per
    * (label, dim) regardless of row count. Rounded to 6 decimals
    * (summation-order noise ~1e-13 over values in [-1, 1]).
    */
  def q76LabelCentroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "embeddings")
      .select($"label", posexplode($"embedding").as(Seq("dim", "v")))
      .filter($"dim" < 8)
      .groupBy($"label", $"dim".cast("long").as("dim"))
      .agg(
        round(avg($"v".cast("double")), 6).as("centroid"),
        count(lit(1)).as("n"))
      .orderBy($"label", $"dim")
  }

  val q76Sql: String =
    """SELECT label, CAST(dim AS BIGINT) AS dim,
      |  round(AVG(CAST(v AS DOUBLE)), 6) AS centroid, COUNT(*) AS n
      |FROM (SELECT label, unnest(embedding) AS v,
      |        unnest(range(len(embedding))) AS dim
      |      FROM embeddings)
      |WHERE dim < 8
      |GROUP BY label, dim ORDER BY label, dim""".stripMargin

  /** q87: symmetric int8 quantization of the embedding column — the
    * storage half of a scaled ANN index (4× smaller than float32). Per
    * vector: scale = max|x|/127, components floor(x/scale + 0.5), plus
    * the clipped-component count. All element-wise double arithmetic +
    * an order-independent array max, so both engines agree bit-for-bit;
    * plan is one narrow projection, the only wide op is the output sort.
    *
    * The quantized vector is surfaced as SCALARS — `md5(array_join(...))`
    * over the full array plus first/middle/last element probes — because
    * the driver's pandas hash-compare cannot hash array cells (the q59
    * rule, ADVICE r1/r4); the raw-array API stays [[graft.api.Similarity.quantizeInt8]].
    */
  def q87QuantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.api.Similarity.quantizeInt8(table(spark, dir, "embeddings"), "vec_id", "embedding")
      .select($"vec_id", $"scale",
        md5(array_join($"q_emb", ",")).as("q_md5"),
        element_at($"q_emb", 1).cast("long").as("q_first"),
        element_at($"q_emb", 32).cast("long").as("q_mid"),
        element_at($"q_emb", -1).cast("long").as("q_last"),
        $"n_clipped")
      .orderBy($"vec_id")
  }

  val q87Sql: String =
    """WITH m AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
      |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS maxabs
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, maxabs / 127 AS scale,
      |    list_transform(ed, x -> CAST(floor(x / (maxabs / 127) + 0.5) AS INT)) AS q_emb
      |  FROM m WHERE maxabs > 0 AND NOT isnan(maxabs) AND isfinite(maxabs)
      |    AND len(list_filter(ed, x -> x IS NULL)) = 0)
      |SELECT vec_id, scale,
      |  md5(array_to_string(q_emb, ',')) AS q_md5,
      |  CAST(q_emb[1] AS BIGINT) AS q_first,
      |  CAST(q_emb[32] AS BIGINT) AS q_mid,
      |  CAST(q_emb[-1] AS BIGINT) AS q_last,
      |  CAST(len(list_filter(q_emb, q -> abs(q) = 127)) AS BIGINT) AS n_clipped
      |FROM q ORDER BY vec_id""".stripMargin

  /** q91: top-5 kNN in the QUANTIZED domain ([[graft.api.Similarity.quantizedKnn]])
    * — the search half of the int8 ANN path, end-to-end: corpus and
    * probes quantize, sim = int8 cosine. Scales cancel out of the
    * cosine, so every score is a ratio of EXACT integer dot products —
    * hashable with zero rounding in both engines.
    */
  def q91QuantizedKnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = emb(spark, dir)
    graft.api.Similarity.quantizedKnn(corpus, corpus.filter($"vec_id" < 10),
        "vec_id", "embedding", k = 5)
      .orderBy($"probe_id", $"rn")
  }

  val q91Sql: String =
    """WITH m AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed,
      |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS maxabs
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id,
      |    list_transform(ed, x -> CAST(floor(x / (maxabs / 127) + 0.5) AS INT)) AS q_emb
      |  FROM m WHERE maxabs > 0 AND NOT isnan(maxabs) AND isfinite(maxabs)
      |    AND len(list_filter(ed, x -> x IS NULL)) = 0),
      |qn AS (
      |  SELECT vec_id, qd, sqrt(list_dot_product(qd, qd)) AS qnorm
      |  FROM (SELECT vec_id, CAST(q_emb AS DOUBLE[]) AS qd FROM q)
      |  WHERE list_dot_product(qd, qd) > 0)
      |SELECT probe_id, rn, cand_id, sim FROM (
      |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
      |    list_dot_product(p.qd, c.qd) / (p.qnorm * c.qnorm) AS sim,
      |    ROW_NUMBER() OVER (PARTITION BY p.vec_id
      |      ORDER BY list_dot_product(p.qd, c.qd) / (p.qnorm * c.qnorm) DESC, c.vec_id) AS rn
      |  FROM qn p JOIN qn c ON c.vec_id <> p.vec_id
      |  WHERE p.vec_id < 10)
      |WHERE rn <= 5 ORDER BY probe_id, rn""".stripMargin

  /** q92: one full Lloyd iteration of [[graft.api.Similarity.kmeansIterate]]
    * (k=8, seeds = lowest-id rows): cosine-assign every vector to its
    * nearest seed, then the per-(cluster, dimension) mean — the centroid
    * production step IVF consumes. Output exploded to scalars (cluster,
    * dim, centroid, n); means rounded to 6 (summation-order noise).
    */
  def q92KmeansStep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.api.Similarity.kmeansIterate(emb(spark, dir), "vec_id", "embedding",
        k = 8, iters = 1)
      .select($"cluster", $"n", posexplode($"centroid").as(Seq("dim", "c")))
      .select($"cluster", $"dim".cast("long").as("dim"),
        round($"c", 6).as("centroid"), $"n")
      .orderBy($"cluster", $"dim")
  }

  val q92Sql: String =
    s"""WITH cents AS (
       |  SELECT vec_id AS cluster, CAST(embedding AS DOUBLE[]) AS c_emb,
       |    sqrt(${cosSqlDot("embedding", "embedding")}) AS c_norm
       |  FROM embeddings
       |  WHERE ${posNormSql("embedding")}
       |  ORDER BY vec_id LIMIT 8),
       |assign AS (
       |  SELECT vec_id, v, cluster FROM (
       |    SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.cluster,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_dot_product(c.c_emb, CAST(e.embedding AS DOUBLE[]))
       |          / (c.c_norm * sqrt(${cosSqlDot("e.embedding", "e.embedding")})) DESC,
       |        c.cluster) AS arn
       |    FROM embeddings e CROSS JOIN cents c
       |    WHERE ${posNormSql("e.embedding")})
       |  WHERE arn = 1)
       |SELECT cluster, CAST(dim AS BIGINT) AS dim,
       |  round(AVG(x), 6) AS centroid, COUNT(*) AS n
       |FROM (SELECT cluster, unnest(v) AS x, unnest(range(len(v))) AS dim FROM assign)
       |GROUP BY cluster, dim
       |-- mirror kmeansIterate's updated-centroid norm filter (a cluster
       |-- whose mean collapses to the zero vector is dropped, not emitted)
       |QUALIFY SUM(AVG(x) * AVG(x)) OVER (PARTITION BY cluster) > 0
       |ORDER BY cluster, dim""".stripMargin

  /** q99: IVF top-3 with nprobe=4 multi-cell search
    * ([[graft.api.Similarity.ivfKnnProbed]]) — q43's single-cell search
    * with the recall knob turned up: each probe searches its 4 nearest
    * cells of 16, recovering near-boundary neighbors.
    */
  def q99IvfNprobe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = emb(spark, dir)
    val centroids = corpus.filter($"vec_id" < 16)
    val assigned = graft.api.Similarity.ivfAssign(corpus, centroids, "vec_id", "embedding")
    graft.api.Similarity.ivfKnnProbed(assigned, centroids,
        $"vec_id" >= 100 && $"vec_id" < 110, "vec_id", "embedding", k = 3, nprobe = 4)
      .orderBy($"probe_id", $"rn")
  }

  val q99Sql: String =
    s"""WITH $assignSql,
       |probes AS (
       |  SELECT vec_id AS probe_id, embedding AS p_emb
       |  FROM assign WHERE vec_id >= 100 AND vec_id < 110),
       |cents AS (
       |  SELECT vec_id AS cent_id, embedding AS c_emb FROM embeddings
       |  WHERE vec_id < 16 AND ${posNormSql("embedding")}),
       |cells AS (
       |  SELECT probe_id, p_emb, cent_id AS cell FROM (
       |    SELECT p.probe_id, p.p_emb, c.cent_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.probe_id
       |        ORDER BY ${cosSql("c.c_emb", "p.p_emb")} DESC, c.cent_id) AS crn
       |    FROM probes p CROSS JOIN cents c)
       |  WHERE crn <= 4)
       |SELECT probe_id, rn, cand_id, sim FROM (
       |  SELECT s.probe_id, a.vec_id AS cand_id,
       |    ${cosSql("s.p_emb", "a.embedding")} AS sim,
       |    ROW_NUMBER() OVER (PARTITION BY s.probe_id
       |      ORDER BY ${cosSql("s.p_emb", "a.embedding")} DESC, a.vec_id) AS rn
       |  FROM cells s JOIN assign a ON a.cluster = s.cell AND a.vec_id <> s.probe_id)
       |WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin

  /** q149: truncated-dimension retrieval quality (the Matryoshka-
    * representation question): for each probe, how many of the full-dim
    * top-5 survive when search uses only the first 2 / 4 dimensions.
    * Reuses the [[graft.api.Similarity.cosineKnn]] kernel on `slice`d
    * embeddings — prefix truncation costs a narrow projection, never a
    * re-embedding — and reports an all-integer overlap count per
    * (probe, dims), so the report hash-matches with no float caveats
    * (ranking ties break on cand_id on both engines). Probes whose
    * prefix is zero-norm drop from the truncated search and score 0,
    * the honest "this prefix carries no signal" answer.
    */
  def q149TruncatedRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = emb(spark, dir)
    def top5(c: DataFrame): DataFrame =
      graft.api.Similarity.cosineKnn(c, c.filter($"vec_id" < 10),
          "vec_id", "embedding", k = 5)
        .select($"probe_id", $"cand_id")
    val full = top5(corpus).localCheckpoint() // reused by every dims pass
    val truncated = Seq(2, 4).map { d =>
      top5(corpus.select($"vec_id", slice($"embedding", 1, d).as("embedding")))
        .withColumn("dims", lit(d.toLong))
    }.reduce(_ unionAll _)
    val overlap = truncated
      .join(full, Seq("probe_id", "cand_id"), "left_semi")
      .groupBy($"probe_id", $"dims").agg(count(lit(1)).as("n_overlap5"))
    full.select($"probe_id").distinct()
      .crossJoin(Seq(2L, 4L).toDF("dims"))
      .join(overlap, Seq("probe_id", "dims"), "left")
      .select($"probe_id", $"dims",
        coalesce($"n_overlap5", lit(0L)).as("n_overlap5"))
      .orderBy($"probe_id", $"dims")
  }

  private def cosSliceSql(a: String, b: String, d: String): String = {
    def s(x: String) = s"list_slice(CAST($x AS DOUBLE[]), 1, $d)"
    s"list_dot_product(${s(a)}, ${s(b)})" +
      s" / (sqrt(list_dot_product(${s(a)}, ${s(a)}))" +
      s" * sqrt(list_dot_product(${s(b)}, ${s(b)})))"
  }

  val q149Sql: String = {
    val posSlice = (x: String) =>
      s"list_dot_product(list_slice(CAST($x AS DOUBLE[]), 1, d.dims), " +
        s"list_slice(CAST($x AS DOUBLE[]), 1, d.dims)) > 0"
    s"""WITH full5 AS (
       |  SELECT probe_id, cand_id FROM (
       |    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |        ORDER BY ${cosSql("p.embedding", "c.embedding")} DESC, c.vec_id) AS rn
       |    FROM embeddings p JOIN embeddings c ON c.vec_id <> p.vec_id
       |    WHERE p.vec_id < 10
       |      AND ${posNormSql("p.embedding")} AND ${posNormSql("c.embedding")})
       |  WHERE rn <= 5),
       |t AS (
       |  SELECT dims, probe_id, cand_id FROM (
       |    SELECT d.dims, p.vec_id AS probe_id, c.vec_id AS cand_id,
       |      ROW_NUMBER() OVER (PARTITION BY d.dims, p.vec_id
       |        ORDER BY ${cosSliceSql("p.embedding", "c.embedding", "d.dims")} DESC,
       |          c.vec_id) AS rn
       |    FROM (VALUES (2), (4)) d(dims)
       |    CROSS JOIN embeddings p JOIN embeddings c ON c.vec_id <> p.vec_id
       |    WHERE p.vec_id < 10
       |      AND ${posSlice("p.embedding")} AND ${posSlice("c.embedding")})
       |  WHERE rn <= 5),
       |o AS (
       |  SELECT t.probe_id, t.dims, COUNT(*) AS n
       |  FROM t JOIN full5 USING (probe_id, cand_id) GROUP BY 1, 2),
       |g AS (
       |  SELECT DISTINCT probe_id, dd.dims
       |  FROM full5 CROSS JOIN (VALUES (2), (4)) dd(dims))
       |SELECT g.probe_id, CAST(g.dims AS BIGINT) AS dims,
       |  CAST(COALESCE(o.n, 0) AS BIGINT) AS n_overlap5
       |FROM g LEFT JOIN o ON o.probe_id = g.probe_id AND o.dims = g.dims
       |ORDER BY g.probe_id, dims""".stripMargin
  }

  /** q151: hybrid retrieval via reciprocal-rank fusion — the standard
    * way BM25 lexical ranking and embedding-cosine ranking combine
    * (score = Σ 1/(60 + rank), Cormack et al.'s RRF constant): the
    * q142 BM25 top-20 for the fixed term query and the cosine top-20
    * around probe vector 0 full-outer-join on doc id, each missing rank
    * contributing 0. Ranks are integers, the fused score is a fixed-
    * order sum of two identically-computed doubles, ties break on doc
    * id — the cut is hash-stable. Both input rankings are bounded
    * top-20 frames, so fusion is a 40-row join regardless of corpus
    * size; all the heavy lifting stays in the two plan-locked
    * sub-pipelines.
    */
  def q151RrfFusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bm = graft.api.Text.bm25TopK(table(spark, dir, "documents"),
        "doc_id", "text", Seq("vector", "stream", "customer"), 20)
      .select($"id".as("doc_id"), $"score")
    val rb = bm.withColumn("r_text",
        row_number().over(Window.orderBy($"score".desc, $"doc_id")).cast("long"))
      .select($"doc_id", $"r_text")
    val corpus = emb(spark, dir)
    val rv = graft.api.Similarity.cosineKnn(corpus,
        corpus.filter($"vec_id" === 0), "vec_id", "embedding", k = 20)
      .select($"cand_id".as("doc_id"), $"rn".cast("long").as("r_vec"))
    rb.join(rv, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + $"r_text"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + $"r_vec"), lit(0.0)), 6))
      .select($"doc_id", $"r_text", $"r_vec", $"rrf")
      .orderBy($"rrf".desc, $"doc_id")
      .limit(10)
  }

  val q151Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, tok AS token
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE tok <> ''),
       |lens AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
       |corpus AS (
       |  SELECT COUNT(*) AS n_docs,
       |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM lens),
       |tf AS (
       |  SELECT doc_id, token, COUNT(*) AS tf FROM toks
       |  WHERE token IN ('vector', 'stream', 'customer') GROUP BY 1, 2),
       |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT tf.doc_id, tf.token,
       |    ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5)) *
       |      (tf.tf * (1.2 + 1.0)) /
       |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / c.avgdl)) AS s
       |  FROM tf JOIN dfreq d USING (token) JOIN lens l USING (doc_id)
       |  CROSS JOIN corpus c),
       |pivoted AS (
       |  SELECT doc_id,
       |    MAX(CASE WHEN token = 'vector' THEN s END) AS s_vector,
       |    MAX(CASE WHEN token = 'stream' THEN s END) AS s_stream,
       |    MAX(CASE WHEN token = 'customer' THEN s END) AS s_customer
       |  FROM scored GROUP BY doc_id),
       |total AS (
       |  SELECT doc_id,
       |    COALESCE(s_vector, 0.0) + COALESCE(s_stream, 0.0)
       |      + COALESCE(s_customer, 0.0) AS score_raw
       |  FROM pivoted),
       |top20 AS (
       |  SELECT doc_id, round(score_raw, 4) AS score
       |  FROM total ORDER BY score_raw DESC, doc_id LIMIT 20),
       |rb AS (
       |  SELECT doc_id, CAST(ROW_NUMBER() OVER
       |    (ORDER BY score DESC, doc_id) AS BIGINT) AS r_text FROM top20),
       |rv AS (
       |  SELECT doc_id, r_vec FROM (
       |    SELECT c.vec_id AS doc_id, CAST(ROW_NUMBER() OVER (
       |      ORDER BY ${cosSql("p.embedding", "c.embedding")} DESC, c.vec_id)
       |      AS BIGINT) AS r_vec
       |    FROM embeddings p JOIN embeddings c ON c.vec_id <> 0
       |    WHERE p.vec_id = 0
       |      AND ${posNormSql("p.embedding")} AND ${posNormSql("c.embedding")})
       |  WHERE r_vec <= 20)
       |SELECT COALESCE(rb.doc_id, rv.doc_id) AS doc_id, rb.r_text, rv.r_vec,
       |  round(COALESCE(1.0 / (60 + rb.r_text), 0.0)
       |    + COALESCE(1.0 / (60 + rv.r_vec), 0.0), 6) AS rrf
       |FROM rb FULL OUTER JOIN rv ON rv.doc_id = rb.doc_id
       |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  /** q155: asymmetric-distance (ADC) top-5 search over the PQ-encoded
    * corpus ([[graft.api.Similarity.pqSearchAdc]], Jégou et al. 2011
    * §III) — the SEARCH half of q126's encode: each probe precomputes
    * its 8×16 table of probe-slice · codeword dot products (broadcast),
    * and every candidate scores as the sum of 8 table lookups via an
    * equi-join on (sub, code) — the full-width float corpus is never
    * read at search time, which is the whole point of storing 4-byte
    * codes for 10⁹ vectors. Codebook = the deterministic q126
    * pseudo-codebook, so both engines score identically.
    */
  def q155PqAdc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = emb(spark, dir)
    val cb = graft.api.Similarity.pqCodebookFromIds(
      corpus, "vec_id", "embedding", m = 8, k = 16)
    val det = graft.api.Similarity.pqEncodeDetailed(
      corpus, cb, "vec_id", "embedding", m = 8)
    graft.api.Similarity.pqSearchAdc(det, cb,
        corpus.filter($"vec_id" % 50 === 0), "vec_id", "embedding",
        m = 8, kNbrs = 5)
      .select($"probe_id", $"rn", $"cand_id", round($"sim", 4).as("sim"))
      .orderBy($"probe_id", $"rn")
  }

  val q155Sql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      |  WHERE embedding IS NOT NULL),
      |sv AS (
      |  SELECT vec_id, s.sub, emb[(s.sub * 8 + 1):(s.sub * 8 + 8)] AS subv
      |  FROM e CROSS JOIN (SELECT unnest(range(0, 8)) AS sub) s),
      |cw AS (SELECT sub, vec_id AS code, subv AS cwv FROM sv WHERE vec_id < 16),
      |enc AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT v.vec_id, v.sub, c.code,
      |      ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
      |        ORDER BY (list_dot_product(c.cwv, c.cwv)
      |          - 2 * list_dot_product(v.subv, c.cwv)), c.code) AS rn
      |    FROM sv v JOIN cw c ON c.sub = v.sub)
      |  WHERE rn = 1),
      |lut AS (
      |  SELECT p.vec_id AS probe_id, p.sub, c.code,
      |    list_dot_product(p.subv, c.cwv) AS w
      |  FROM sv p JOIN cw c ON c.sub = p.sub WHERE p.vec_id % 50 = 0),
      |scored AS (
      |  SELECT l.probe_id, enc.vec_id AS cand_id, SUM(l.w) AS sim
      |  FROM enc JOIN lut l ON l.sub = enc.sub AND l.code = enc.code
      |  WHERE enc.vec_id <> l.probe_id GROUP BY 1, 2)
      |SELECT probe_id, rn, cand_id, ROUND(sim, 4) AS sim FROM (
      |  SELECT probe_id, cand_id, sim,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
      |      ORDER BY sim DESC, cand_id) AS BIGINT) AS rn
      |  FROM scored)
      |WHERE rn <= 5 ORDER BY probe_id, rn""".stripMargin

  /** q156: hyperplane-LSH approximate top-3 search
    * ([[graft.api.Similarity.srpSearch]], Charikar STOC 2002) — 32
    * signed-random-projection bits in 4 bands of 8 for probes
    * vec_id < 10: every probe's candidate set is the union of its 4
    * hash buckets (~4·2⁻⁸ ≈ 1.6% of the corpus — bucket equi-join,
    * never a scan), exact-cosine reranked, top 3. The embedding-space
    * member of the LSH family (MinHash covers sets, SimHash token
    * multisets); results are always TRUE cosines — the sketch only
    * prunes, so only recall (ApiSpec-measured vs brute force) depends
    * on geometry. Both engines fold the SAME embedded ±1 hyperplane
    * constants in the same order, so buckets, candidates, and the
    * reranked cut agree exactly.
    */
  def q156SrpSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = emb(spark, dir)
    graft.api.Similarity.srpSearch(corpus, corpus.filter($"vec_id" < 10),
        "vec_id", "embedding", dim = 64, bits = 32, bands = 4, k = 3)
      .select($"probe_id", $"rn", $"cand_id", round($"sim", 4).as("sim"))
      .orderBy($"probe_id", $"rn")
  }

  val q156Sql: String = {
    val signs = graft.api.Similarity.srpSigns(32, 64)
    val rpb = 8
    def bitSql(b: Int): String =
      s"(CASE WHEN list_dot_product(emb, [${signs(b).mkString(", ")}]) >= 0.0" +
        s" THEN ${1L << (b % rpb)} ELSE 0 END)"
    val bandSelects = (0 until 4).map { g =>
      s"SELECT vec_id, $g AS band, " +
        (g * rpb until (g + 1) * rpb).map(bitSql).mkString(" + ") +
        " AS band_sig FROM e"
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
       |  WHERE embedding IS NOT NULL),
       |sig AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS cand_id
       |  FROM sig p JOIN sig c
       |    ON p.band = c.band AND p.band_sig = c.band_sig
       |    AND p.vec_id <> c.vec_id
       |  WHERE p.vec_id < 10),
       |n AS (
       |  SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e
       |  WHERE list_dot_product(emb, emb) > 0),
       |scored AS (
       |  SELECT cand.probe_id, cand.cand_id,
       |    list_dot_product(x.emb, y.emb) / (x.nrm * y.nrm) AS sim
       |  FROM cand JOIN n x ON x.vec_id = cand.probe_id
       |    JOIN n y ON y.vec_id = cand.cand_id)
       |SELECT probe_id, rn, cand_id, ROUND(sim, 4) AS sim FROM (
       |  SELECT probe_id, cand_id, sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
       |      ORDER BY sim DESC, cand_id) AS BIGINT) AS rn
       |  FROM scored)
       |WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin
  }

  /** q157: embedding-dimension Pearson correlation matrix (first 8
    * dims, upper triangle) from ONE aggregation pass of explicit raw
    * moments — n, Σx, Σx², Σxy — then the textbook closed form
    * `(nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²))` evaluated on the
    * single stats row. The moment formulation (not the builtin `corr`,
    * whose streaming co-moment merge order is engine-private) is what
    * both engines can evaluate EXPRESSION-IDENTICALLY; the scan is one
    * pass, state is O(dims²) regardless of corpus size, and the rounded
    * 6-decimal display absorbs partial-sum reassociation. The
    * diagnostic behind whitening / redundant-dimension pruning of an
    * embedding space.
    */
  def q157DimCorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = 8
    val pairs = for (i <- 0 until d; j <- i + 1 until d) yield (i, j)
    val x = emb(spark, dir).filter($"embedding".isNotNull)
      .select((0 until d).map(i =>
        element_at($"embedding", i + 1).cast("double").as(s"x$i")): _*)
    val aggs =
      Seq(count(lit(1)).cast("double").as("n")) ++
        (0 until d).map(i => sum(col(s"x$i")).as(s"s$i")) ++
        (0 until d).map(i => sum(col(s"x$i") * col(s"x$i")).as(s"q$i")) ++
        pairs.map { case (i, j) =>
          sum(col(s"x$i") * col(s"x$j")).as(s"p${i}_$j") }
    val stats = x.agg(aggs.head, aggs.tail: _*)
    val rows = pairs.map { case (i, j) =>
      struct(
        lit(i.toLong).as("dim_i"), lit(j.toLong).as("dim_j"),
        round(
          (col("n") * col(s"p${i}_$j") - col(s"s$i") * col(s"s$j")) /
            (sqrt(col("n") * col(s"q$i") - col(s"s$i") * col(s"s$i")) *
              sqrt(col("n") * col(s"q$j") - col(s"s$j") * col(s"s$j"))),
          6).as("corr"))
    }
    stats.select(explode(array(rows: _*)).as("r"))
      .select($"r.dim_i", $"r.dim_j", $"r.corr")
      .orderBy($"dim_i", $"dim_j")
  }

  val q157Sql: String = {
    val d = 8
    val pairs = for (i <- 0 until d; j <- i + 1 until d) yield (i, j)
    val dims = 0 until d
    val sums =
      dims.map(i => s"SUM(x$i) AS s$i") ++
        dims.map(i => s"SUM(x$i * x$i) AS q$i") ++
        pairs.map { case (i, j) => s"SUM(x$i * x$j) AS p${i}_$j" }
    val cells = pairs.map { case (i, j) =>
      s"SELECT CAST($i AS BIGINT) AS dim_i, CAST($j AS BIGINT) AS dim_j, " +
        s"ROUND((n * p${i}_$j - s$i * s$j) / " +
        s"(sqrt(n * q$i - s$i * s$i) * sqrt(n * q$j - s$j * s$j)), 6) " +
        s"AS corr FROM s"
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (
       |  SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
       |  WHERE embedding IS NOT NULL),
       |x AS (SELECT ${dims.map(i => s"emb[${i + 1}] AS x$i").mkString(", ")} FROM e),
       |s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, ${sums.mkString(", ")} FROM x)
       |SELECT dim_i, dim_j, corr FROM (
       |  $cells)
       |ORDER BY dim_i, dim_j""".stripMargin
  }

  /** q164: k-NN label vote — the classifier readout of the similarity
    * stack: probes (vec_id < 20) take their 10 nearest corpus neighbors
    * (vec_id ≥ 20) by cosine via [[graft.api.Similarity.cosineKnn]]
    * (broadcast probes, no corpus shuffle), majority-vote the
    * neighbors' labels (ties to the smaller label id), and report the
    * prediction against the probe's true label. The standard
    * label-propagation / embedding-quality harness: if k-NN can't
    * recover labels, the embedding space is noise. Vote counting is
    * integer; the ranked-window tie-break chain (sim desc, cand_id;
    * votes desc, label asc) makes the prediction a pure function of
    * the data.
    */
  def q164KnnLabelVote(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = emb(spark, dir)
    val corpus = all.filter($"vec_id" >= 20)
    val probes = all.filter($"vec_id" < 20)
    val nn = graft.api.Similarity.cosineKnn(corpus, probes, "vec_id",
      "embedding", k = 10)
    val votes = nn
      .join(corpus.select($"vec_id".as("cand_id"), $"label".as("n_label")),
        "cand_id")
      .groupBy($"probe_id", $"n_label")
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy($"probe_id")
      .orderBy($"votes".desc, $"n_label".asc)
    votes.withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .join(probes.select($"vec_id".as("probe_id"), $"label".as("true_label")),
        "probe_id")
      .select($"probe_id", $"true_label",
        $"n_label".cast("long").as("pred_label"), $"votes",
        ($"n_label" === $"true_label").as("correct"))
      .orderBy($"probe_id")
  }

  val q164Sql: String =
    s"""WITH nn AS (
       |  SELECT probe_id, cand_id FROM (
       |    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |        ORDER BY ${cosSql("p.embedding", "c.embedding")} DESC,
       |          c.vec_id) AS rn
       |    FROM embeddings p JOIN embeddings c ON c.vec_id >= 20
       |    WHERE p.vec_id < 20
       |      AND ${posNormSql("p.embedding")} AND ${posNormSql("c.embedding")})
       |  WHERE rn <= 10),
       |votes AS (
       |  SELECT nn.probe_id, c.label AS n_label, COUNT(*) AS votes
       |  FROM nn JOIN embeddings c ON c.vec_id = nn.cand_id
       |  GROUP BY 1, 2),
       |best AS (
       |  SELECT probe_id, n_label, votes, ROW_NUMBER() OVER (
       |    PARTITION BY probe_id ORDER BY votes DESC, n_label ASC) AS rk
       |  FROM votes)
       |SELECT b.probe_id, p.label AS true_label,
       |  CAST(b.n_label AS BIGINT) AS pred_label, b.votes,
       |  b.n_label = p.label AS correct
       |FROM best b JOIN embeddings p ON p.vec_id = b.probe_id
       |WHERE b.rk = 1 ORDER BY b.probe_id""".stripMargin

  /** q165: intra- vs. inter-label cosine gap — embedding-space quality
    * in two numbers per class: mean cosine of same-label pairs vs.
    * different-label pairs over the deterministic consecutive-id
    * pairing (vec_id i joined to i+1). A healthy space shows
    * intra ≫ inter; a collapsed or shuffled space shows no gap. The
    * pairing is a narrow self-equi-join on vec_id+1 — exactly n−1
    * candidate pairs at any corpus size, no quadratic blow-up, no
    * shuffle beyond the join's — and the per-pair cosine is the same
    * dot/(norm·norm) expression the kNN family uses. Means round to 6;
    * pair counts are exact.
    */
  def q165LabelCosineGap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val a = e.select($"vec_id", $"embedding".as("a_emb"), $"label".as("a_label"))
    val b = e.select(($"vec_id" - 1).as("vec_id"), $"embedding".as("b_emb"),
      $"label".as("b_label"))
    a.join(b, "vec_id")
      .withColumn("sim", expr(cos("a_emb", "b_emb")))
      .groupBy($"a_label".cast("long").as("label"))
      .agg(
        sum(when($"a_label" === $"b_label", 1L).otherwise(0L)).as("n_intra"),
        sum(when($"a_label" =!= $"b_label", 1L).otherwise(0L)).as("n_inter"),
        round(avg(when($"a_label" === $"b_label", $"sim")), 6).as("intra_cos"),
        round(avg(when($"a_label" =!= $"b_label", $"sim")), 6).as("inter_cos"))
      .withColumn("gap", round($"intra_cos" - $"inter_cos", 6))
      .orderBy($"label")
  }

  val q165Sql: String =
    s"""WITH p AS (
       |  SELECT a.label AS a_label, b.label AS b_label,
       |    ${cosSql("a.embedding", "b.embedding")} AS sim
       |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1)
       |SELECT CAST(a_label AS BIGINT) AS label,
       |  CAST(SUM(CASE WHEN a_label = b_label THEN 1 ELSE 0 END) AS BIGINT) AS n_intra,
       |  CAST(SUM(CASE WHEN a_label <> b_label THEN 1 ELSE 0 END) AS BIGINT) AS n_inter,
       |  ROUND(AVG(CASE WHEN a_label = b_label THEN sim END), 6) AS intra_cos,
       |  ROUND(AVG(CASE WHEN a_label <> b_label THEN sim END), 6) AS inter_cos,
       |  ROUND(ROUND(AVG(CASE WHEN a_label = b_label THEN sim END), 6)
       |    - ROUND(AVG(CASE WHEN a_label <> b_label THEN sim END), 6), 6) AS gap
       |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  /** q173: embedding-space benchmark decontamination
    * ([[graft.api.Similarity.embeddingDecontaminate]]): vectors
    * vec_id < 50 play the benchmark/eval set; the corpus (vec_id ≥ 50)
    * rows whose best-benchmark cosine reaches 0.4 are the semantic
    * leaks an n-gram decontamination gate (q85) cannot see —
    * paraphrased eval questions share no shingles. The benchmark
    * broadcasts as one array row; the corpus is scanned once, never
    * shuffled — the plan a 100 TB corpus needs.
    */
  def q173EmbedDecon(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = emb(spark, dir)
    graft.api.Similarity.embeddingDecontaminate(
        all.filter($"vec_id" >= 50), all.filter($"vec_id" < 50),
        "vec_id", "embedding", threshold = 0.4)
      .filter($"contaminated")
      .select($"vec_id", $"bench_id", round($"sim", 6).as("sim"))
      .orderBy($"vec_id")
  }

  val q173Sql: String =
    s"""WITH best AS (
       |  SELECT c.vec_id, b.vec_id AS bench_id,
       |    ${cosSql("c.embedding", "b.embedding")} AS sim,
       |    ROW_NUMBER() OVER (PARTITION BY c.vec_id
       |      ORDER BY ${cosSql("c.embedding", "b.embedding")} DESC,
       |        b.vec_id ASC) AS rn
       |  FROM embeddings c JOIN embeddings b ON b.vec_id < 50
       |  WHERE c.vec_id >= 50
       |    AND ${posNormSql("c.embedding")} AND ${posNormSql("b.embedding")})
       |SELECT vec_id, CAST(bench_id AS BIGINT) AS bench_id,
       |  ROUND(sim, 6) AS sim
       |FROM best WHERE rn = 1 AND sim >= 0.4 ORDER BY vec_id""".stripMargin

  /** q186: embedding-space drift — per label, the cosine and L2 gap
    * between the centroid of cohort A (even vec_id) and cohort B (odd).
    * The monitoring twin of [[q76LabelCentroids]]: a healthy embedding
    * pipeline has cos ≈ 1 between random halves of a label; a re-trained
    * encoder or an upstream normalization change drops it. Per-dim
    * cohort means come from ONE posexplode + conditional-avg pass
    * (narrow, hash agg on (label, dim) — never |dims| scans); the means
    * are rounded to 6 decimals BEFORE the dot products so the final
    * 64-term sums start from identical inputs in both engines, and the
    * rounded output absorbs their reassociation ulps. State: |labels| ×
    * |dims| rows regardless of corpus size.
    */
  def q186CentroidShift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = table(spark, dir, "embeddings")
    val cent = emb
      .select($"label", ($"vec_id" % 2 === 0).as("is_a"),
        posexplode($"embedding").as(Seq("dim", "v")))
      .groupBy($"label", $"dim")
      .agg(
        round(avg(when($"is_a", $"v".cast("double"))), 6).as("ca"),
        round(avg(when(!$"is_a", $"v".cast("double"))), 6).as("cb"))
    val m = cent.groupBy($"label")
      .agg(
        sum($"ca" * $"cb").as("dot"),
        sum($"ca" * $"ca").as("qa"),
        sum($"cb" * $"cb").as("qb"),
        sum(($"ca" - $"cb") * ($"ca" - $"cb")).as("dd"))
    val cnt = emb.groupBy($"label")
      .agg(
        sum(when($"vec_id" % 2 === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when($"vec_id" % 2 =!= 0, 1L).otherwise(0L)).as("n_b"))
    m.join(cnt, "label")
      .select($"label", $"n_a", $"n_b",
        round($"dot" / sqrt($"qa" * $"qb"), 6).as("cos_shift"),
        round(sqrt($"dd"), 6).as("l2_shift"))
      .orderBy($"label")
  }

  val q186Sql: String =
    """WITH e AS (
      |  SELECT label, vec_id % 2 = 0 AS is_a, unnest(embedding) AS v,
      |    unnest(range(len(embedding))) AS dim
      |  FROM embeddings),
      |cent AS (
      |  SELECT label, dim,
      |    ROUND(AVG(CASE WHEN is_a THEN CAST(v AS DOUBLE) END), 6) AS ca,
      |    ROUND(AVG(CASE WHEN NOT is_a THEN CAST(v AS DOUBLE) END), 6) AS cb
      |  FROM e GROUP BY 1, 2),
      |m AS (
      |  SELECT label, SUM(ca * cb) AS dot, SUM(ca * ca) AS qa,
      |    SUM(cb * cb) AS qb, SUM((ca - cb) * (ca - cb)) AS dd
      |  FROM cent GROUP BY label),
      |cnt AS (
      |  SELECT label,
      |    SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
      |    SUM(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END) AS n_b
      |  FROM embeddings GROUP BY label)
      |SELECT m.label, CAST(c.n_a AS BIGINT) AS n_a, CAST(c.n_b AS BIGINT) AS n_b,
      |  ROUND(dot / sqrt(qa * qb), 6) AS cos_shift,
      |  ROUND(sqrt(dd), 6) AS l2_shift
      |FROM m JOIN cnt c USING (label) ORDER BY label""".stripMargin

  /** q196: embedding covariance structure — the population covariance of
    * the first 8 dimensions as (i, j, cov) upper-triangle rows, the
    * input a PCA/whitening stage consumes
    * ([[graft.api.Models.pcaTopComponent]] power-iterates the same
    * moments driver-side). ONE aggregation over one scan produces all
    * d(d+1)/2 pair sums + d means via `element_at` projections (no
    * explode, no ×d² row fanout); the triangle rows unfold from the
    * single agg row with `stack`. The cov closed form is written
    * identically in both engines so the only cross-engine freedom is
    * double-sum reassociation, absorbed by the 6-decimal round.
    */
  def q196EmbedCovariance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dims = 8
    val proj = table(spark, dir, "embeddings")
      .select((0 until dims).map(i =>
        element_at($"embedding", i + 1).cast("double").as(s"x$i")): _*)
    val pairAggs =
      (for { i <- 0 until dims; j <- i until dims }
        yield sum(col(s"x$i") * col(s"x$j")).as(s"s_${i}_$j")) ++
        (0 until dims).map(i => sum(col(s"x$i")).as(s"m_$i")) :+
        count(lit(1)).as("n")
    val agg = proj.agg(pairAggs.head, pairAggs.tail: _*)
    val entries = (for { i <- 0 until dims; j <- i until dims } yield
      s"CAST($i AS BIGINT), CAST($j AS BIGINT), " +
        s"ROUND(s_${i}_$j / n - (m_$i / n) * (m_$j / n), 6)").mkString(", ")
    agg.selectExpr("n",
        s"stack(${dims * (dims + 1) / 2}, $entries) as (i, j, cov)")
      .select($"i", $"j", $"n", $"cov")
      .orderBy($"i", $"j")
  }

  val q196Sql: String =
    """WITH d AS (SELECT unnest(range(8)) AS i),
      |pairs AS (SELECT a.i AS i, b.i AS j FROM d a JOIN d b ON a.i <= b.i),
      |x AS (
      |  SELECT p.i, p.j,
      |    CAST(embedding[CAST(p.i + 1 AS INT)] AS DOUBLE) AS xi,
      |    CAST(embedding[CAST(p.j + 1 AS INT)] AS DOUBLE) AS xj
      |  FROM embeddings CROSS JOIN pairs p)
      |SELECT i, j, COUNT(*) AS n,
      |  ROUND(SUM(xi * xj) / COUNT(*)
      |    - (SUM(xi) / COUNT(*)) * (SUM(xj) / COUNT(*)), 6) AS cov
      |FROM x GROUP BY 1, 2 ORDER BY i, j""".stripMargin

  /** q205: embedding quality audit — per label: vector count, dimension
    * agreement, zero/NaN pathology counts, and the L2-norm
    * min/mean/max. The audit every ANN index build should run first:
    * zero vectors poison cosine scoring (division by zero), NaNs
    * propagate silently, and a norm distribution far from 1 flags a
    * missing normalization step upstream. Norms fold left-to-right via
    * the same higher-order `aggregate` contract the dot-product kernels
    * use, so they hash-match the oracle's list fold exactly; everything
    * else is conditional counting in ONE pass.
    */
  def q205EmbedQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = table(spark, dir, "embeddings")
      .withColumn("dim", size($"embedding"))
      .withColumn("norm2", expr(
        "aggregate(embedding, CAST(0.0 AS DOUBLE), (s, x) -> s + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"))
      .withColumn("has_nan", expr("exists(embedding, x -> isnan(x))"))
    e.groupBy($"label")
      .agg(
        count(lit(1)).as("n_vecs"),
        countDistinct($"dim").as("n_dims_seen"),
        sum(when($"norm2" === 0.0, 1L).otherwise(0L)).as("n_zero"),
        sum(when($"has_nan", 1L).otherwise(0L)).as("n_nan"),
        round(min(sqrt($"norm2")), 6).as("min_norm"),
        round(avg(sqrt($"norm2")), 6).as("mean_norm"),
        round(max(sqrt($"norm2")), 6).as("max_norm"))
      .orderBy($"label")
  }

  val q205Sql: String =
    """WITH e AS (
      |  SELECT label, len(embedding) AS dim,
      |    list_aggregate(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS norm2,
      |    len(list_filter(embedding, x -> isnan(x))) > 0 AS has_nan
      |  FROM embeddings)
      |SELECT label, COUNT(*) AS n_vecs,
      |  COUNT(DISTINCT dim) AS n_dims_seen,
      |  CAST(SUM(CASE WHEN norm2 = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |  CAST(SUM(CASE WHEN has_nan THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
      |  ROUND(MIN(sqrt(norm2)), 6) AS min_norm,
      |  ROUND(AVG(sqrt(norm2)), 6) AS mean_norm,
      |  ROUND(MAX(sqrt(norm2)), 6) AS max_norm
      |FROM e GROUP BY label ORDER BY label""".stripMargin

  /** q246: silhouette card — per-label clustering quality of the
    * embedding space against the ground-truth labels: for a
    * deterministic md5-sample of 10 points per label, a = mean cosine
    * distance to the own cluster, b = the nearest other cluster's mean,
    * silhouette = (b−a)/max(a,b). The structure-quality number that
    * tells a curator whether label-conditioned sampling or per-label
    * centroids ([[q76LabelCentroids]]) are even meaningful. Scale: the
    * probe set is |labels|×10 rows BROADCAST against one corpus scan
    * (the q42 kNN shape — the corpus never shuffles); per-pair
    * distances snap to the 1e-6 grid so every mean folds as an exact
    * decimal, keeping the card hash-stable at any partitioning.
    */
  def q246SilhouetteCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val w = Window.partitionBy($"label")
      .orderBy(md5($"vec_id".cast("string")), $"vec_id")
    val probes = e.withColumn("rn", row_number().over(w)).filter($"rn" <= 10)
      .select($"vec_id".as("probe_id"), $"label".as("probe_label"),
        $"embedding".as("pe"))
    val pairs = e.join(broadcast(probes), $"vec_id" =!= $"probe_id")
      .select($"probe_id", $"probe_label", $"label",
        round(lit(1.0) - expr(cos("pe", "embedding")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(24, 6)).as("d6"))
    val g = pairs.groupBy($"probe_id", $"probe_label", $"label")
      .agg((sum($"d6").cast("double") / count(lit(1))).as("md"))
    val s = g.groupBy($"probe_id", $"probe_label")
      .agg(max(when($"label" === $"probe_label", $"md")).as("a"),
        min(when($"label" =!= $"probe_label", $"md")).as("b"))
      .select($"probe_label",
        round(($"b" - $"a") / greatest($"a", $"b"), 6).as("s"))
    s.groupBy($"probe_label".as("label"))
      .agg(count(lit(1)).as("n_probes"),
        round(sum($"s".cast(org.apache.spark.sql.types.DecimalType(24, 6)))
          .cast("double") / count(lit(1)), 6).as("avg_silhouette"),
        min($"s").as("min_silhouette"), max($"s").as("max_silhouette"))
      .orderBy($"label")
  }

  val q246Sql: String =
    s"""WITH p AS (
       |  SELECT vec_id AS probe_id, label AS probe_label, embedding AS pe
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY label
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |    FROM embeddings)
       |  WHERE rn <= 10),
       |pairs AS (
       |  SELECT probe_id, probe_label, c.label,
       |    CAST(ROUND(1.0 - ${cosSql("pe", "c.embedding")}, 6)
       |      AS DECIMAL(24,6)) AS d6
       |  FROM p JOIN embeddings c ON c.vec_id <> p.probe_id),
       |g AS (
       |  SELECT probe_id, probe_label, label,
       |    CAST(SUM(d6) AS DOUBLE) / COUNT(*) AS md
       |  FROM pairs GROUP BY 1, 2, 3),
       |s AS (
       |  SELECT probe_label,
       |    ROUND((MIN(CASE WHEN label <> probe_label THEN md END)
       |        - MAX(CASE WHEN label = probe_label THEN md END))
       |      / GREATEST(MAX(CASE WHEN label = probe_label THEN md END),
       |        MIN(CASE WHEN label <> probe_label THEN md END)), 6) AS s
       |  FROM g GROUP BY probe_id, probe_label)
       |SELECT probe_label AS label, COUNT(*) AS n_probes,
       |  ROUND(CAST(SUM(CAST(s AS DECIMAL(24,6))) AS DOUBLE) / COUNT(*), 6)
       |    AS avg_silhouette,
       |  MIN(s) AS min_silhouette, MAX(s) AS max_silhouette
       |FROM s GROUP BY probe_label ORDER BY label""".stripMargin

  // --------------------------------------------------------------------
  // q263/q264: Johnson–Lindenstrauss sparse random projection — the
  // dimensionality-reduction retrieval path that COMPLEMENTS q149's
  // Matryoshka prefix truncation (truncation keeps leading dims;
  // projection mixes ALL dims, so it works on embeddings with no
  // trained dimension ordering). Signs follow Achlioptas (2003): a
  // dense ±1 matrix preserves pairwise L2 distances in expectation
  // with variance O(1/k); determinism comes from the suite's md5
  // convention so the ORACLE evaluates the identical matrix.
  // --------------------------------------------------------------------

  private val jlK = 16
  private val jlD = 64

  /** ±1 sign matrix, k=16 projections × d=64 input dims:
    * sign(j, i) = +1 iff the first hex char of md5("jl:j:i") is 0-7.
    * Driver-side constant (1024 cells, computed once), shared VERBATIM
    * with the oracle SQL as literal arrays — no RNG state anywhere.
    */
  private lazy val jlSigns: IndexedSeq[IndexedSeq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until jlK).map { j =>
      (0 until jlD).map { i =>
        val h = md.digest(s"jl:$j:$i".getBytes("UTF-8"))
        if (((h(0) >> 4) & 0xF) <= 7) 1 else -1
      }
    }
  }

  /** Spark literal for projection row j: `array(1.0D, -1.0D, ...)`. */
  private def jlArr(j: Int): String =
    jlSigns(j).map(s => s"${s}.0D").mkString("array(", ", ", ")")

  /** DuckDB literal for projection row j: `[1.0, -1.0, ...]`. */
  private def jlArrSql(j: Int): String =
    jlSigns(j).map(s => s"${s}.0").mkString("[", ", ", "]")

  /** q263: JL distance-preservation audit — for the 10×20 probe-pair
    * grid, squared L2 distance in the original 64-dim space vs the
    * unbiased estimate from the 16-dim ±1 projection
    * ((1/k)·Σⱼ⟨Rⱼ, a−b⟩², using linearity: project the DIFFERENCE once
    * instead of two vectors). Per pair: one 64-dim diff, 17 dot folds,
    * all inside whole-stage codegen; the pair grid is a broadcast cross
    * of two bounded probe frames, so corpus size never enters. The
    * ratio column is the measured distortion the JL lemma bounds —
    * the go/no-go card before trusting q264's projected search.
    */
  def q263JlDistortion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val a = emb(spark, dir).filter($"vec_id" < 10)
      .select($"vec_id".as("id_a"), $"embedding".as("ea"))
    val b = emb(spark, dir).filter($"vec_id" >= 10 && $"vec_id" < 30)
      .select($"vec_id".as("id_b"), $"embedding".as("eb"))
    var df = a.crossJoin(broadcast(b))
      .withColumn("diff",
        expr("zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"))
      .withColumn("d_full", expr(hofDot("diff", "diff")))
    (0 until jlK).foreach { j =>
      df = df.withColumn(s"p$j", expr(hofDot("diff", jlArr(j))))
    }
    val sumsq = (0 until jlK).map(j => col(s"p$j") * col(s"p$j"))
      .reduce(_ + _)
    df.withColumn("d_proj", sumsq / lit(jlK.toDouble))
      .filter($"d_full" > 0.0)
      .select($"id_a", $"id_b",
        round($"d_full", 6).as("dist2_full"),
        round($"d_proj", 6).as("dist2_proj"),
        round($"d_proj" / $"d_full", 4).as("ratio"))
      .orderBy($"id_a", $"id_b")
  }

  val q263Sql: String = {
    val diffDot = "list_dot_product(d.diff, d.diff)"
    val pj = (0 until jlK)
      .map(j => s"list_dot_product(d.diff, ${jlArrSql(j)})")
    val sumsq = pj.map(p => s"($p) * ($p)").mkString(" + ")
    s"""WITH d AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    list_transform(list_zip(CAST(a.embedding AS DOUBLE[]),
       |      CAST(b.embedding AS DOUBLE[])), t -> t[1] - t[2]) AS diff
       |  FROM embeddings a CROSS JOIN embeddings b
       |  WHERE a.vec_id < 10 AND b.vec_id >= 10 AND b.vec_id < 30)
       |SELECT id_a, id_b,
       |  ROUND($diffDot, 6) AS dist2_full,
       |  ROUND(($sumsq) / 16.0, 6) AS dist2_proj,
       |  ROUND((($sumsq) / 16.0) / ($diffDot), 4) AS ratio
       |FROM d WHERE $diffDot > 0.0
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** q264: projected-search recall CURVE — the JL retrieval path end to
    * end, graded honestly: every corpus vector is projected ONCE to 16
    * dims (narrow, 16 dot folds per row — the artifact you would persist
    * at 100 TB), candidates per probe come from 16-dim L2 distance (¼
    * the flops of full cosine), and only the candidate pool is re-scored
    * by exact full-dim cosine for the final top-5. Reported per (probe,
    * pool ∈ {20, 50}): overlap with the exact full-dim top-5. On this
    * corpus the curve READS LOW (≈20-40% recall@5) — neighbors sit
    * within the JL noise floor at k=16 (q263 measures that spread
    * directly), which is the operational verdict the card exists to
    * render: a 16-dim ±1 projection is a cheap COARSE blocker (dedup
    * blocking, candidate pre-filters at distance scales ≫ the noise),
    * not a fine ranker — for fine search use the IVF/PQ family, which
    * prune by TRAINED structure instead of oblivious projection. The
    * candidate window prunes per-partition (WindowGroupLimit); exact
    * scoring touches ≤50 rows per probe, never the corpus.
    */
  def q264JlSearchRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pools = Seq(20, 50)
    val projExpr = (0 until jlK)
      .map(j => hofDot("embedding", jlArr(j))).mkString("array(", ", ", ")")
    val corpus = emb(spark, dir)
      .withColumn("pe", expr(projExpr))
      .localCheckpoint() // projected once; probed and scanned below
    val probes = corpus.filter($"vec_id" < 10)
      .select($"vec_id".as("probe_id"), $"embedding".as("pemb"),
        $"pe".as("ppe"))
    val cand = corpus
      .select($"vec_id".as("cand_id"), $"embedding".as("cemb"),
        $"pe".as("cpe"))
    val w = Window.partitionBy($"probe_id")
      .orderBy($"dp", $"cand_id")
    // candidates + exact rerank scores computed ONCE at the largest
    // pool; the smaller pools are prefix subsets of the same ranking
    val top50 = cand.join(broadcast(probes), $"cand_id" =!= $"probe_id")
      .withColumn("pdiff", expr("zip_with(ppe, cpe, (x, y) -> x - y)"))
      .withColumn("dp", expr(hofDot("pdiff", "pdiff")))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= pools.max)
      .withColumn("sim", expr(
        s"${hofDot("pemb", "cemb")} / (sqrt(${hofDot("pemb", "pemb")})" +
          s" * sqrt(${hofDot("cemb", "cemb")}))"))
      .select($"probe_id", $"cand_id", $"rn", $"sim")
      .localCheckpoint()
    val rerank = pools.map { p =>
      top50.filter($"rn" <= p)
        .withColumn("rn2", row_number().over(
          Window.partitionBy($"probe_id").orderBy($"sim".desc, $"cand_id")))
        .filter($"rn2" <= 5)
        .select($"probe_id", $"cand_id", lit(p.toLong).as("pool"))
    }.reduce(_ unionAll _)
    val exact = graft.api.Similarity.cosineKnn(emb(spark, dir),
        emb(spark, dir).filter($"vec_id" < 10), "vec_id", "embedding", k = 5)
      .select($"probe_id", $"cand_id")
      .localCheckpoint()
    val overlap = rerank
      .join(exact, Seq("probe_id", "cand_id"), "left_semi")
      .groupBy($"probe_id", $"pool").agg(count(lit(1)).as("n_overlap5"))
    exact.select($"probe_id").distinct()
      .crossJoin(pools.map(_.toLong).toDF("pool"))
      .join(overlap, Seq("probe_id", "pool"), "left")
      .select($"probe_id", $"pool",
        coalesce($"n_overlap5", lit(0L)).as("n_overlap5"))
      .orderBy($"probe_id", $"pool")
  }

  val q264Sql: String = {
    val proj = (0 until jlK)
      .map(j => s"list_dot_product(CAST(embedding AS DOUBLE[]), ${jlArrSql(j)})")
      .mkString("[", ", ", "]")
    s"""WITH pr AS (
       |  SELECT vec_id, embedding, $proj AS pe FROM embeddings),
       |t50 AS (
       |  SELECT probe_id, cand_id, rn, pemb, cemb FROM (
       |    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |      p.embedding AS pemb, c.embedding AS cemb,
       |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |        ORDER BY list_dot_product(
       |            list_transform(list_zip(p.pe, c.pe), t -> t[1] - t[2]),
       |            list_transform(list_zip(p.pe, c.pe), t -> t[1] - t[2])),
       |          c.vec_id) AS rn
       |    FROM pr p JOIN pr c ON c.vec_id <> p.vec_id
       |    WHERE p.vec_id < 10)
       |  WHERE rn <= 50),
       |rr AS (
       |  SELECT probe_id, cand_id, pool FROM (
       |    SELECT t.probe_id, t.cand_id, pp.pool,
       |      ROW_NUMBER() OVER (PARTITION BY t.probe_id, pp.pool
       |        ORDER BY ${cosSql("t.pemb", "t.cemb")} DESC, t.cand_id) AS rn2
       |    FROM t50 t CROSS JOIN (VALUES (20), (50)) pp(pool)
       |    WHERE t.rn <= pp.pool)
       |  WHERE rn2 <= 5),
       |full5 AS (
       |  SELECT probe_id, cand_id FROM (
       |    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |        ORDER BY ${cosSql("p.embedding", "c.embedding")} DESC, c.vec_id) AS rn
       |    FROM embeddings p JOIN embeddings c ON c.vec_id <> p.vec_id
       |    WHERE p.vec_id < 10
       |      AND ${posNormSql("p.embedding")} AND ${posNormSql("c.embedding")})
       |  WHERE rn <= 5),
       |o AS (
       |  SELECT rr.probe_id, rr.pool, COUNT(*) AS n
       |  FROM rr JOIN full5 USING (probe_id, cand_id) GROUP BY 1, 2),
       |g AS (
       |  SELECT DISTINCT f.probe_id, pp.pool
       |  FROM full5 f CROSS JOIN (VALUES (20), (50)) pp(pool))
       |SELECT g.probe_id, CAST(g.pool AS BIGINT) AS pool,
       |  CAST(COALESCE(o.n, 0) AS BIGINT) AS n_overlap5
       |FROM g LEFT JOIN o ON o.probe_id = g.probe_id AND o.pool = g.pool
       |ORDER BY g.probe_id, pool""".stripMargin
  }

  /** q285: MMR diversified retrieval (maximal marginal relevance,
    * Carbonell–Goldstein 1998) — the post-retrieval re-ranker that
    * trades relevance against redundancy: after the top-20 cosine
    * candidates per probe, greedily pick 5 results maximizing
    * λ·rel(c) − (1−λ)·max_{s∈picked} sim(c, s) with λ=0.7, so two
    * near-duplicate neighbors never both make the short list. Scores
    * live on an exact integer grid (rel and pair sims snapped to 1e-6,
    * λ applied as 7x−3y over longs), so every greedy argmax — the
    * fragile part of MMR — picks the same candidate on both engines,
    * ties to the lowest id. Scale shape: candidate generation is the
    * only corpus-sized work (the q42 kNN path); the greedy loop unrolls
    * into 4 keyed argmax windows over the bounded (probes × 20) frame
    * with its (probes × 20 × 19) pair sims — no collect, no global
    * sort, constants independent of corpus size.
    */
  def q285MmrDiversified(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val corpus = emb(spark, dir)
    val cand = graft.api.Similarity.cosineKnn(corpus,
        corpus.filter($"vec_id" < 5), "vec_id", "embedding", k = 20)
      .select($"probe_id", $"cand_id",
        round($"sim" * 1e6).cast("long").as("rel_e6"))
      .localCheckpoint() // the corpus-sized kNN runs once
    val ce = cand.join(
      corpus.select($"vec_id".as("cand_id"), $"embedding"), Seq("cand_id"))
    val pairs = ce.select($"probe_id", $"cand_id".as("a"), $"embedding".as("ea"))
      .join(ce.select($"probe_id", $"cand_id".as("b"), $"embedding".as("eb")),
        Seq("probe_id"))
      .filter($"a" =!= $"b")
      .select($"probe_id", $"a", $"b",
        round(expr(cos("ea", "eb")) * 1e6).cast("long").as("s_e6"))
      .localCheckpoint()
    var sel = cand
      .withColumn("rn", row_number().over(Window.partitionBy($"probe_id")
        .orderBy($"rel_e6".desc, $"cand_id")))
      .filter($"rn" === 1)
      .select($"probe_id", $"cand_id",
        (lit(7L) * $"rel_e6").as("mmr_x10_e6"), lit(1).as("pick"))
    for (i <- 2 to 5) {
      val pen = pairs
        .join(sel.select($"probe_id", $"cand_id".as("b")), Seq("probe_id", "b"))
        .groupBy($"probe_id", $"a").agg(max($"s_e6").as("pen_e6"))
        .withColumnRenamed("a", "cand_id")
      val next = cand
        .join(sel.select($"probe_id", $"cand_id"),
          Seq("probe_id", "cand_id"), "left_anti")
        .join(pen, Seq("probe_id", "cand_id"), "left")
        .withColumn("mmr_x10_e6",
          lit(7L) * $"rel_e6" - lit(3L) * coalesce($"pen_e6", lit(0L)))
        .withColumn("rn", row_number().over(Window.partitionBy($"probe_id")
          .orderBy($"mmr_x10_e6".desc, $"cand_id")))
        .filter($"rn" === 1)
        .select($"probe_id", $"cand_id", $"mmr_x10_e6", lit(i).as("pick"))
      sel = sel.unionByName(next).localCheckpoint()
    }
    sel.join(cand, Seq("probe_id", "cand_id"))
      .select($"probe_id", $"pick", $"cand_id",
        ($"rel_e6".cast("double") / 1e6).as("relevance"),
        ($"mmr_x10_e6".cast("double") / 1e7).as("mmr_score"))
      .orderBy($"probe_id", $"pick")
  }

  val q285Sql: String = {
    val base = s"""WITH cand AS (
       |  SELECT probe_id, cand_id, CAST(round(sim * 1e6) AS BIGINT) AS rel_e6
       |  FROM (
       |    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |      ${cosSql("p.embedding", "c.embedding")} AS sim,
       |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |        ORDER BY ${cosSql("p.embedding", "c.embedding")} DESC, c.vec_id)
       |        AS rn
       |    FROM embeddings p JOIN embeddings c ON c.vec_id <> p.vec_id
       |    WHERE p.vec_id < 5
       |      AND ${posNormSql("p.embedding")} AND ${posNormSql("c.embedding")})
       |  WHERE rn <= 20),
       |pr AS (
       |  SELECT a.probe_id, a.cand_id AS a, b.cand_id AS b,
       |    CAST(round(${cosSql("ea.embedding", "eb.embedding")} * 1e6)
       |      AS BIGINT) AS s_e6
       |  FROM cand a JOIN cand b ON b.probe_id = a.probe_id
       |    AND b.cand_id <> a.cand_id
       |  JOIN embeddings ea ON ea.vec_id = a.cand_id
       |  JOIN embeddings eb ON eb.vec_id = b.cand_id),
       |sel1 AS (
       |  SELECT probe_id, cand_id, 7 * rel_e6 AS mmr, 1 AS pick FROM (
       |    SELECT probe_id, cand_id, rel_e6, ROW_NUMBER() OVER (
       |      PARTITION BY probe_id ORDER BY rel_e6 DESC, cand_id) AS rn
       |    FROM cand)
       |  WHERE rn = 1)""".stripMargin
    val steps = (2 to 5).map { i =>
      s""",
       |pen$i AS (
       |  SELECT pr.probe_id, pr.a AS cand_id, MAX(pr.s_e6) AS pen_e6
       |  FROM pr JOIN sel${i - 1} s ON s.probe_id = pr.probe_id
       |    AND s.cand_id = pr.b
       |  GROUP BY 1, 2),
       |r$i AS (
       |  SELECT c.probe_id, c.cand_id,
       |    7 * c.rel_e6 - 3 * COALESCE(pen_e6, 0) AS mmr,
       |    ROW_NUMBER() OVER (PARTITION BY c.probe_id
       |      ORDER BY 7 * c.rel_e6 - 3 * COALESCE(pen_e6, 0) DESC, c.cand_id)
       |      AS rn
       |  FROM cand c LEFT JOIN pen$i USING (probe_id, cand_id)
       |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s
       |    WHERE s.probe_id = c.probe_id AND s.cand_id = c.cand_id)),
       |sel$i AS (
       |  SELECT * FROM sel${i - 1} UNION ALL
       |  SELECT probe_id, cand_id, mmr, $i FROM r$i WHERE rn = 1)""".stripMargin
    }.mkString
    base + steps + """
       |SELECT s.probe_id, s.pick, s.cand_id,
       |  CAST(rel_e6 AS DOUBLE) / 1e6 AS relevance,
       |  CAST(mmr AS DOUBLE) / 1e7 AS mmr_score
       |FROM sel5 s JOIN cand USING (probe_id, cand_id)
       |ORDER BY probe_id, pick""".stripMargin
  }

  /** q286: nDCG@10 of the IVF approximate ranking against the exact
    * brute-force ranking — the position-aware complement of q149's
    * recall card: recall says WHETHER the true neighbors surface; nDCG
    * says whether they surface IN ORDER (a hit demoted from rank 1 to
    * rank 10 keeps recall, loses log-discounted gain). Exact top-10
    * ranks define graded gains (11−rank); each IVF result's
    * gain/log2(rank+1) term snaps to an integer 1e-9 grid BEFORE the
    * per-probe fold (ln(r+1)/ln 2 over ≤10 bounded ranks, identical
    * libm calls both engines), so DCG and ideal-DCG are exact longs and
    * the quotient is engine-identical. Scale shape: the exact arm is
    * the q42 kNN path, the approximate arm the q43 cell-pruned search;
    * the eval join is keyed on (probe, candidate) over two ≤10-row-per-
    * probe frames.
    */
  def q286NdcgCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = emb(spark, dir)
    val isProbe = $"vec_id" >= 100 && $"vec_id" < 110
    val exact = graft.api.Similarity.cosineKnn(corpus,
        corpus.filter(isProbe), "vec_id", "embedding", k = 10)
      .select($"probe_id", $"cand_id", $"rn".as("exact_rank"))
      .localCheckpoint() // feeds both the eval join and the ideal DCG
    val assigned = graft.api.Similarity.ivfAssign(corpus,
      corpus.filter($"vec_id" < 16), "vec_id", "embedding")
    val approx = graft.api.Similarity.ivfKnn(assigned, isProbe,
        "vec_id", "embedding", k = 10)
      .select($"probe_id", $"cand_id", $"rn".as("approx_rank"))
    def termE9(gain: org.apache.spark.sql.Column,
        rank: org.apache.spark.sql.Column) =
      round(lit(1e9) * gain.cast("double") /
        (log(rank.cast("double") + 1.0) / log(lit(2.0)))).cast("long")
    val d = approx.join(exact, Seq("probe_id", "cand_id"), "left")
      .withColumn("gain", coalesce(lit(11L) - $"exact_rank", lit(0L)))
      .groupBy($"probe_id")
      .agg(sum(termE9($"gain", $"approx_rank")).as("dcg_e9"),
        sum(when($"gain" > 0L, 1L).otherwise(0L)).as("n_hits"))
    val i = exact.groupBy($"probe_id")
      .agg(sum(termE9(lit(11L) - $"exact_rank", $"exact_rank"))
        .as("idcg_e9"))
    d.join(i, Seq("probe_id"))
      .select($"probe_id", $"n_hits",
        round($"dcg_e9".cast("double") / $"idcg_e9".cast("double"), 6)
          .as("ndcg10"))
      .orderBy($"probe_id")
  }

  val q286Sql: String =
    s"""WITH $assignSql,
       |probes AS (
       |  SELECT vec_id AS probe_id, embedding AS p_emb, cluster
       |  FROM assign WHERE vec_id >= 100 AND vec_id < 110),
       |ex AS (
       |  SELECT probe_id, cand_id, rn FROM (
       |    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |        ORDER BY ${cosSql("p.embedding", "c.embedding")} DESC, c.vec_id)
       |        AS rn
       |    FROM embeddings p JOIN embeddings c ON c.vec_id <> p.vec_id
       |    WHERE p.vec_id >= 100 AND p.vec_id < 110
       |      AND ${posNormSql("p.embedding")} AND ${posNormSql("c.embedding")})
       |  WHERE rn <= 10),
       |ap AS (
       |  SELECT probe_id, cand_id, rn FROM (
       |    SELECT p.probe_id, c.vec_id AS cand_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.probe_id
       |        ORDER BY ${cosSql("p.p_emb", "c.embedding")} DESC, c.vec_id) AS rn
       |    FROM probes p JOIN assign c ON c.cluster = p.cluster
       |      AND c.vec_id <> p.probe_id)
       |  WHERE rn <= 10),
       |t AS (
       |  SELECT ap.probe_id, ap.rn AS arank,
       |    COALESCE(11 - ex.rn, 0) AS gain
       |  FROM ap LEFT JOIN ex ON ex.probe_id = ap.probe_id
       |    AND ex.cand_id = ap.cand_id),
       |d AS (
       |  SELECT probe_id,
       |    SUM(CAST(round(1e9 * gain / (ln(arank + 1.0) / ln(2.0)))
       |      AS BIGINT)) AS dcg_e9,
       |    SUM(CASE WHEN gain > 0 THEN 1 ELSE 0 END) AS n_hits
       |  FROM t GROUP BY 1),
       |i AS (
       |  SELECT probe_id,
       |    SUM(CAST(round(1e9 * (11 - rn) / (ln(rn + 1.0) / ln(2.0)))
       |      AS BIGINT)) AS idcg_e9
       |  FROM ex GROUP BY 1)
       |SELECT probe_id, CAST(n_hits AS BIGINT) AS n_hits,
       |  ROUND(CAST(dcg_e9 AS DOUBLE) / idcg_e9, 6) AS ndcg10
       |FROM d JOIN i USING (probe_id) ORDER BY probe_id""".stripMargin

  /** q299: label-margin mislabel screen — the label-quality audit that
    * follows q246's "are labels separable at all": EVERY vector's
    * cosine to its own label centroid minus its best other-label
    * centroid; a negative margin means the embedding sits closer to a
    * different class — the standard nearest-centroid candidate list a
    * labeling team re-reviews. Centroid coordinates snap to the 1e-6
    * grid (per-dim rounded averages → identical doubles both engines,
    * assembled in dim order), so every `vector_dot` fold is
    * bit-identical; per-vector margins snap to DECIMAL(24,6) before the
    * per-label fold. Scale shape: the |labels| centroid rows broadcast
    * into ONE corpus scan — the corpus never shuffles; everything after
    * the scan is |labels|-bounded.
    */
  def q299LabelMargin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val cent = e
      .select($"label", posexplode($"embedding").as(Seq("dim", "v")))
      .groupBy($"label", $"dim")
      .agg(round(avg($"v".cast("double")), 6).as("c"))
      .groupBy($"label")
      .agg(array_sort(collect_list(struct($"dim", $"c"))).as("a"))
      .select($"label".as("clabel"), expr("transform(a, x -> x.c)").as("ce"))
      .localCheckpoint() // |labels| rows
    val scored = e.crossJoin(broadcast(cent))
      .withColumn("sim", expr(cos("embedding", "ce")))
      .groupBy($"vec_id", $"label")
      .agg(max(when($"clabel" === $"label", $"sim")).as("own"),
        max(when($"clabel" =!= $"label", $"sim")).as("other"))
      .withColumn("m6", round($"own" - $"other", 6)
        .cast(org.apache.spark.sql.types.DecimalType(24, 6)))
    scored.groupBy($"label")
      .agg(count(lit(1)).as("n_vectors"),
        sum(when($"m6" < 0, 1L).otherwise(0L)).as("n_negative"),
        sum($"m6").as("sum_m6"))
      .select($"label", $"n_vectors", $"n_negative",
        round($"n_negative".cast("double") / $"n_vectors", 6)
          .as("suspect_share"),
        round($"sum_m6".cast("double") / $"n_vectors", 6).as("avg_margin"))
      .orderBy($"label")
  }

  val q299Sql: String = {
    val cosCe = s"list_dot_product(CAST(embedding AS DOUBLE[]), ce)" +
      s" / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), " +
      s"CAST(embedding AS DOUBLE[]))) * sqrt(list_dot_product(ce, ce)))"
    s"""WITH cd AS (
       |  SELECT label, dim, ROUND(AVG(CAST(v AS DOUBLE)), 6) AS c
       |  FROM (SELECT label, unnest(embedding) AS v,
       |          unnest(range(len(embedding))) AS dim
       |        FROM embeddings)
       |  GROUP BY 1, 2),
       |cent AS (
       |  SELECT label AS clabel, list(c ORDER BY dim) AS ce
       |  FROM cd GROUP BY 1),
       |sc AS (
       |  SELECT vec_id, label,
       |    MAX(CASE WHEN clabel = label THEN sim END) AS own,
       |    MAX(CASE WHEN clabel <> label THEN sim END) AS other
       |  FROM (
       |    SELECT vec_id, label, clabel, $cosCe AS sim
       |    FROM embeddings CROSS JOIN cent)
       |  GROUP BY 1, 2),
       |m AS (
       |  SELECT label,
       |    CAST(ROUND(own - other, 6) AS DECIMAL(24,6)) AS m6
       |  FROM sc)
       |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       |  CAST(SUM(CASE WHEN m6 < 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_negative,
       |  ROUND(CAST(SUM(CASE WHEN m6 < 0 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 6) AS suspect_share,
       |  ROUND(CAST(SUM(m6) AS DOUBLE) / COUNT(*), 6) AS avg_margin
       |FROM m GROUP BY label ORDER BY label""".stripMargin
  }

  /** q318's distributed stage alone: per-partition moment partials —
    * ONE narrow pass over the embeddings scan folding the d(d+1)/2
    * co-moment sums, the d mean sums, and the row count into a primitive
    * double array inside a JIT-tight loop, one output row per partition.
    * (The first round-11 version expressed the same fold as a single
    * SQL aggregate with 2 145 slots; that fell off whole-stage codegen
    * — janino's per-method limits — into interpreted per-row expression
    * evaluation, 14× slower than the posexplode self-join it replaced.
    * A mapPartitions kernel is the shape that actually scales: no 64×
    * row inflation, no join, no shuffle except ≤ one tiny row per
    * partition, and per-row cost is a compiled multiply-add loop.)
    * Exposed so PlanSpec can lock the scan-only shape.
    */
  private[graft] def q318MomentPartials(spark: SparkSession, dir: String,
      dim: Int = 64): org.apache.spark.sql.Dataset[Array[Double]] = {
    import spark.implicits._
    val nPairs = dim * (dim + 1) / 2
    val nSlots = nPairs + dim + 1
    table(spark, dir, "embeddings").select($"embedding")
      .mapPartitions { rows =>
        val s = new Array[Double](nSlots)
        val x = new Array[Double](dim)
        rows.foreach { r =>
          val a = r.getSeq[Float](0)
          var i = 0
          while (i < dim) { x(i) = a(i).toDouble; i += 1 }
          var p = 0
          i = 0
          while (i < dim) {
            val xi = x(i)
            var j = i
            while (j < dim) { s(p) += xi * x(j); p += 1; j += 1 }
            s(nPairs + i) += xi
            i += 1
          }
          s(nSlots - 1) += 1.0
        }
        Iterator.single(s)
      }
  }

  /** q318: top principal component by power iteration — the spectral
    * upgrade of [[q196EmbedCovariance]]. The 64×64 covariance comes from
    * [[q318MomentPartials]]' single narrow scan (co-moment/mean/count
    * partials reduced across ≤ |partitions| rows), entries rounded to
    * the 1e-6 grid with the same half-away-from-zero semantics as SQL
    * ROUND, then the 12-step power iteration folds on the driver (the
    * quantile-engine precedent: a driver loop over a bounded dim²
    * matrix beats 12 micro-shuffle rounds of scheduler latency). Every
    * mat-vec term and every norm term snaps to the 1e-12 grid and sums
    * as exact integers, so λ₁ (the final ‖Cv‖), the explained-variance
    * share λ₁/trace, and the loadings are bit-identical to the oracle's
    * 12 unrolled SQL iterations. Sign fixed by the dominant loading;
    * card = top-5 |loading| dims. At 100 TB only the moment scan
    * touches data; its state is dim², row-count independent.
    */
  def q318PcaPower(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = 64; val steps = 12
    val nPairs = dim * (dim + 1) / 2
    val t = q318MomentPartials(spark, dir, dim).reduce { (a, b) =>
      val out = new Array[Double](a.length)
      var k = 0
      while (k < a.length) { out(k) = a(k) + b(k); k += 1 }
      out
    }
    val n = t(nPairs + dim)
    // covariance entries on the 1e-6 grid, rounded half-away-from-zero
    // exactly like Spark/DuckDB ROUND (BigDecimal HALF_UP = away from
    // zero on ties)
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val m = Array.ofDim[Double](dim, dim)
    var p = 0
    for { i <- 0 until dim; j <- i until dim } {
      val c = round6(t(p) / n - (t(nPairs + i) / n) * (t(nPairs + j) / n))
      m(i)(j) = c; m(j)(i) = c
      p += 1
    }
    // exact integer fold on the 1e-12 grid; round half-away-from-zero
    // (DuckDB ROUND; Math.round is half-up and differs on negative ties)
    def grid(x: Double): Long =
      if (x >= 0) math.floor(x * 1e12 + 0.5).toLong
      else math.ceil(x * 1e12 - 0.5).toLong
    var v = Array.fill(dim)(0.125)
    var lambda = 0.0
    for (_ <- 0 until steps) {
      val w = Array.tabulate(dim) { i =>
        (0 until dim).map(j => grid(m(i)(j) * v(j))).sum / 1e12
      }
      lambda = math.sqrt(w.map(x => grid(x * x)).sum / 1e12)
      v = w.map(_ / lambda)
    }
    val trace = (0 until dim).map(i => math.round(m(i)(i) * 1e6)).sum / 1e6
    val kStar = (0 until dim).minBy(i => (-math.abs(v(i)), i))
    val sign = if (v(kStar) < 0) -1.0 else 1.0
    val ranked = (0 until dim).map(i => (i.toLong, sign * v(i)))
      .sortBy { case (i, x) => (-math.abs(x), i) }.take(5)
    ranked.zipWithIndex.map { case ((i, x), r) =>
      (r + 1L, i, BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble,
        BigDecimal(lambda).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble,
        BigDecimal(lambda / trace)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("rank", "dim", "loading", "lambda1", "explained_share")
      .orderBy($"rank")
  }

  val q318Sql: String = {
    // every CTE MATERIALIZED: DuckDB inlines CTEs by default, and each
    // v_k references w_k twice — inlining would expand the chain 2^12×
    val iters = (1 to 12).map { k =>
      s"""w$k AS MATERIALIZED (
         |  SELECT c.i, SUM(CAST(ROUND(c.c * v.v * 1e12) AS HUGEINT))
         |    / 1e12 AS w
         |  FROM cm c JOIN v${k - 1} v ON c.j = v.i GROUP BY c.i),
         |n$k AS MATERIALIZED (
         |  SELECT sqrt(SUM(CAST(ROUND(w * w * 1e12) AS HUGEINT)) / 1e12)
         |    AS nm FROM w$k),
         |v$k AS MATERIALIZED (
         |  SELECT i, w / (SELECT nm FROM n$k) AS v FROM w$k)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, i - 1 AS i, CAST(x AS DOUBLE) AS x
       |  FROM (SELECT vec_id, unnest(embedding) AS x,
       |          generate_subscripts(embedding, 1) AS i
       |        FROM embeddings)),
       |cov AS MATERIALIZED (
       |  SELECT a.i AS i, b.i AS j,
       |    ROUND(SUM(a.x * b.x) / COUNT(*)
       |      - (SUM(a.x) / COUNT(*)) * (SUM(b.x) / COUNT(*)), 6) AS c
       |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
       |  GROUP BY 1, 2),
       |cm AS MATERIALIZED (
       |  SELECT i, j, c FROM cov
       |  UNION ALL SELECT j, i, c FROM cov WHERE i <> j),
       |tr AS (
       |  SELECT SUM(CAST(ROUND(c * 1e6) AS BIGINT)) / 1e6 AS trace
       |  FROM cov WHERE i = j),
       |v0 AS (SELECT unnest(range(64)) AS i, 0.125 AS v),
       |$iters,
       |sgn AS (
       |  SELECT CASE WHEN (SELECT v FROM v12 ORDER BY abs(v) DESC, i
       |    LIMIT 1) < 0 THEN -1.0 ELSE 1.0 END AS s)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY abs(v) DESC, i) AS BIGINT)
       |    AS rank,
       |  CAST(i AS BIGINT) AS dim, ROUND(s * v, 6) AS loading,
       |  ROUND((SELECT nm FROM n12), 6) AS lambda1,
       |  ROUND((SELECT nm FROM n12) / (SELECT trace FROM tr), 6)
       |    AS explained_share
       |FROM v12 CROSS JOIN sgn
       |ORDER BY abs(v) DESC, i LIMIT 5""".stripMargin
  }

  /** q319: kNN-graph topology audit — the embedding-space health check
    * the recall cards (q264) don't see: on a deterministic 10% sample
    * (the population an audit job would draw at 100 TB), build the
    * k=5 mutual-kNN graph and report reciprocity (share of directed
    * edges whose reverse edge also exists — low reciprocity predicts
    * poor ANN recall), the max in-degree and hub count (in-degree ≥ 2k:
    * hubness is THE known curse-of-dimensionality failure mode), and
    * orphans (never anyone's neighbor). Edges come from the same
    * broadcast-probe kNN kernel as q42 (ties to lowest cand_id), the
    * checkpointed edge list feeds the reverse self-join AND the
    * in-degree fold, and every metric is integer counting — no float
    * leaves the sim ranking. One row.
    */
  def q319KnnGraphAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = emb(spark, dir).filter($"vec_id" % 10 === 0)
      .filter(expr(s"${hofDot("embedding", "embedding")} > 0"))
    val edges = graft.api.Similarity
      .cosineKnn(s, s, "vec_id", "embedding", k = 5)
      .select($"probe_id", $"cand_id")
      .localCheckpoint() // feeds the reverse join and the in-degree fold
    val nNodes = s.count()
    val mutual = edges.as("e").join(edges.as("r"),
      $"e.probe_id" === $"r.cand_id" && $"e.cand_id" === $"r.probe_id")
      .count()
    val indeg = edges.groupBy($"cand_id").agg(count(lit(1)).as("d"))
    val m = indeg.agg(count(lit(1)).as("n_cited"), max($"d").as("max_d"),
        sum(when($"d" >= 10, 1L).otherwise(0L)).as("n_hubs"))
      .collect()(0)
    val nEdges = edges.count()
    Seq((nNodes, nEdges,
        BigDecimal(mutual.toDouble / nEdges)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        m.getAs[Long]("max_d"), m.getAs[Long]("n_hubs"),
        nNodes - m.getAs[Long]("n_cited")))
      .toDF("n_nodes", "n_edges", "mutual_share", "max_indegree",
        "n_hubs", "n_orphans")
  }

  val q319Sql: String =
    s"""WITH s AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id % 10 = 0 AND ${posNormSql("embedding")}),
       |edges AS MATERIALIZED (
       |  SELECT probe_id, cand_id FROM (
       |    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |        ORDER BY ${cosSql("p.embedding", "c.embedding")} DESC,
       |          c.vec_id) AS rn
       |    FROM s p JOIN s c ON c.vec_id <> p.vec_id)
       |  WHERE rn <= 5),
       |mu AS (
       |  SELECT COUNT(*) AS m FROM edges e JOIN edges r
       |    ON e.probe_id = r.cand_id AND e.cand_id = r.probe_id),
       |deg AS (
       |  SELECT COUNT(*) AS n_cited, MAX(d) AS max_d,
       |    SUM(CASE WHEN d >= 10 THEN 1 ELSE 0 END) AS n_hubs
       |  FROM (SELECT cand_id, COUNT(*) AS d FROM edges GROUP BY 1)),
       |tot AS (
       |  SELECT (SELECT COUNT(*) FROM s) AS n_nodes,
       |    (SELECT COUNT(*) FROM edges) AS n_edges)
       |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       |  CAST(n_edges AS BIGINT) AS n_edges,
       |  ROUND(CAST(m AS DOUBLE) / n_edges, 6) AS mutual_share,
       |  CAST(max_d AS BIGINT) AS max_indegree,
       |  CAST(n_hubs AS BIGINT) AS n_hubs,
       |  CAST(n_nodes - n_cited AS BIGINT) AS n_orphans
       |FROM tot CROSS JOIN mu CROSS JOIN deg""".stripMargin

  /** q320: mutual-information feature ranking — which embedding
    * dimensions carry label signal? Each dimension binarizes at 0
    * (sign bit), and per dim the card computes I(sign(x_d); label) in
    * nats from the exact (dim, bit, label) contingency counts: one
    * posexplode pass with map-side combine to a BOUNDED 64×2×|labels|
    * frame, marginals as windows OVER that frame (never the rows), each
    * MI term's log of exact-integer ratios snapped to the 1e-12 decimal
    * grid before the ≤2|labels|-term fold — bit-identical across
    * engines. Top-10 dims by MI. The pruning decision this feeds:
    * near-zero MI everywhere says the labels are not linearly readable
    * from single coordinates (the honest readout on near-isotropic
    * embeddings, q318's companion fact).
    */
  def q320MiFeatureRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = emb(spark, dir)
      .select($"label".cast("long").as("l"),
        posexplode($"embedding").as(Seq("i", "x")))
      .select($"l", $"i".cast("long").as("i"),
        ($"x" > 0f).cast("long").as("b"))
      .groupBy($"i", $"b", $"l").agg(count(lit(1)).as("n"))
    val wi = Window.partitionBy($"i")
    val term = ($"n".cast("double") / $"nt") *
      log(($"n".cast("double") * $"nt") / ($"nb" * $"nl"))
    val mi = c
      .withColumn("nt", sum($"n").over(wi).cast("double"))
      .withColumn("nb", sum($"n").over(Window.partitionBy($"i", $"b"))
        .cast("double"))
      .withColumn("nl", sum($"n").over(Window.partitionBy($"i", $"l"))
        .cast("double"))
      .groupBy($"i")
      .agg(sum(round(term, 12)
        .cast(org.apache.spark.sql.types.DecimalType(38, 12)))
        .cast("double").as("mi"))
    val w = Window.orderBy($"mi".desc, $"i")
    mi.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 10)
      .select($"rank", $"i".as("dim"), round($"mi", 6).as("mi_nats"))
      .orderBy($"rank")
  }

  val q320Sql: String =
    """WITH e AS (
      |  SELECT CAST(label AS BIGINT) AS l, i - 1 AS i,
      |    CASE WHEN x > 0 THEN 1 ELSE 0 END AS b
      |  FROM (SELECT label, unnest(embedding) AS x,
      |          generate_subscripts(embedding, 1) AS i
      |        FROM embeddings)),
      |c AS (
      |  SELECT i, b, l, COUNT(*) AS n FROM e GROUP BY 1, 2, 3),
      |m AS (
      |  SELECT i, b, l, n,
      |    CAST(SUM(n) OVER (PARTITION BY i) AS DOUBLE) AS nt,
      |    CAST(SUM(n) OVER (PARTITION BY i, b) AS DOUBLE) AS nb,
      |    CAST(SUM(n) OVER (PARTITION BY i, l) AS DOUBLE) AS nl
      |  FROM c),
      |mi AS (
      |  SELECT i,
      |    CAST(SUM(CAST(ROUND((CAST(n AS DOUBLE) / nt)
      |      * ln((CAST(n AS DOUBLE) * nt) / (nb * nl)), 12)
      |      AS DECIMAL(38, 12))) AS DOUBLE) AS mi
      |  FROM m GROUP BY i),
      |r AS (
      |  SELECT i, mi,
      |    ROW_NUMBER() OVER (ORDER BY mi DESC, i) AS rank
      |  FROM mi)
      |SELECT CAST(rank AS BIGINT) AS rank, CAST(i AS BIGINT) AS dim,
      |  ROUND(mi, 6) AS mi_nats
      |FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin

  /** q351: reciprocal nearest-neighbor alignment between two embedding
    * populations (label 0 vs label 1) — the mutual-1NN pairs that
    * cross-lingual / cross-modal alignment pipelines trust: a is
    * matched to b iff b is a's best cosine in B AND a is b's best in A
    * (mutual best-match kills the hubness asymmetry a one-way 1NN
    * carries). Both directions reuse the broadcast-probe exact kNN
    * (k=1); the reciprocal filter is an equi-join of two |side|-row
    * frames. Scale path: swap each direction for the IVF-probed search
    * — the reciprocity join is unchanged.
    */
  def q351ReciprocalAlign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val a = e.filter($"label" === 0)
    val b = e.filter($"label" === 1)
    val ab = graft.api.Similarity.cosineKnn(b, a, "vec_id", "embedding", 1)
      .select($"probe_id".as("id_a"), $"cand_id".as("id_b"), $"sim")
    val ba = graft.api.Similarity.cosineKnn(a, b, "vec_id", "embedding", 1)
      .select($"probe_id".as("rid_b"), $"cand_id".as("rid_a"))
    ab.join(ba, $"id_a" === $"rid_a" && $"id_b" === $"rid_b")
      .select($"id_a", $"id_b", round($"sim", 6).as("sim"))
      .orderBy($"id_a")
  }

  val q351Sql: String =
    s"""WITH a AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE label = 0 AND ${posNormSql("embedding")}),
       |b AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE label = 1 AND ${posNormSql("embedding")}),
       |ab AS (
       |  SELECT id_a, id_b, sim FROM (
       |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |      ${cosSql("a.embedding", "b.embedding")} AS sim,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |        ORDER BY ${cosSql("a.embedding", "b.embedding")} DESC,
       |          b.vec_id) AS rn
       |    FROM a JOIN b ON true)
       |  WHERE rn = 1),
       |ba AS (
       |  SELECT rid_a, rid_b FROM (
       |    SELECT b.vec_id AS rid_b, a.vec_id AS rid_a,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |        ORDER BY ${cosSql("b.embedding", "a.embedding")} DESC,
       |          a.vec_id) AS rn
       |    FROM b JOIN a ON true)
       |  WHERE rn = 1)
       |SELECT id_a, id_b, ROUND(sim, 6) AS sim
       |FROM ab JOIN ba ON id_a = rid_a AND id_b = rid_b
       |ORDER BY id_a""".stripMargin

  /** q352: Davies–Bouldin clustering-validity index over the labeled
    * embeddings — the centroid-based partner to q246's silhouette
    * (silhouette prices point-level cohesion, DB prices CLUSTER-level
    * separation: worst-case (s_i+s_j)/d_ij per cluster, lower better) at
    * a fraction of the cost: one explode for per-(label, dim) moments,
    * one rejoin for per-row distances, then all folds are
    * |labels|-bounded. Determinism: components snap to the 1e-6 integer
    * grid BEFORE any sum (so centroid moments are exact integers),
    * per-row distances snap to 1e-9 and fold in decimal, and the final
    * max/mean run over ≤|labels| identical doubles.
    */
  def q352DaviesBouldin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec9 = org.apache.spark.sql.types.DecimalType(38, 9)
    val pts = table(spark, dir, "embeddings")
      .select($"vec_id", $"label", posexplode($"embedding").as(Seq("dim", "v")))
      .select($"vec_id", $"label", $"dim",
        round($"v".cast("double") * 1e6).cast("long").as("v_e6"))
      .localCheckpoint() // moments + per-row distances reuse one explode
    val cent = pts.groupBy($"label", $"dim")
      .agg(sum($"v_e6").as("sx"), count(lit(1)).as("n"))
      .select($"label", $"dim", ($"sx".cast("double") / $"n").as("ce"))
      .localCheckpoint() // |labels|×|dims| rows
    val scatter = pts.join(cent, Seq("label", "dim"))
      .groupBy($"vec_id", $"label")
      .agg(sum(round(($"v_e6" - $"ce") * ($"v_e6" - $"ce") / 1e12, 9)
        .cast(dec9)).as("d2"))
      .select($"label", round(sqrt($"d2".cast("double")), 9).cast(dec9).as("d"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n"),
        (sum($"d").cast("double") / count(lit(1))).as("s"))
    val sOf = scatter.select($"label", $"n", $"s").localCheckpoint()
    val cd = cent.select($"label".as("li"), $"dim", $"ce".as("ci"))
      .join(cent.select($"label".as("lj"), $"dim", $"ce".as("cj")), Seq("dim"))
      .filter($"li" =!= $"lj")
      .groupBy($"li", $"lj")
      .agg(sum(round(($"ci" - $"cj") * ($"ci" - $"cj") / 1e12, 9)
        .cast(dec9)).as("cd2"))
      .select($"li", $"lj", sqrt($"cd2".cast("double")).as("dij"))
    val ratios = cd
      .join(sOf.select($"label".as("li"), $"s".as("si")), Seq("li"))
      .join(sOf.select($"label".as("lj"), $"s".as("sj")), Seq("lj"))
      .groupBy($"li")
      .agg(round(max(($"si" + $"sj") / $"dij"), 9).as("db_i"))
    val dbAll = ratios
      .agg((sum($"db_i".cast(dec9)).cast("double") / count(lit(1))).as("dbv"))
      .select(round($"dbv", 6).as("db_index"))
    ratios.join(sOf, $"li" === $"label")
      .crossJoin(broadcast(dbAll))
      .select($"label", $"n", round($"s", 6).as("scatter"),
        round($"db_i", 6).as("worst_ratio"), $"db_index")
      .orderBy($"label")
  }

  val q352Sql: String =
    """WITH pts AS (
      |  SELECT vec_id, label, dim,
      |    CAST(round(CAST(v AS DOUBLE) * 1e6) AS BIGINT) AS v_e6
      |  FROM (SELECT vec_id, label, unnest(embedding) AS v,
      |          unnest(range(len(embedding))) AS dim
      |        FROM embeddings)),
      |cent AS (
      |  SELECT label, dim, CAST(SUM(v_e6) AS DOUBLE) / COUNT(*) AS ce
      |  FROM pts GROUP BY 1, 2),
      |rowd AS (
      |  SELECT vec_id, p.label,
      |    CAST(ROUND(sqrt(CAST(SUM(CAST(ROUND((v_e6 - ce) * (v_e6 - ce)
      |      / 1e12, 9) AS DECIMAL(38,9))) AS DOUBLE)), 9) AS DECIMAL(38,9))
      |      AS d
      |  FROM pts p JOIN cent c ON p.label = c.label AND p.dim = c.dim
      |  GROUP BY 1, 2),
      |sca AS (
      |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(d) AS DOUBLE) / COUNT(*) AS s
      |  FROM rowd GROUP BY 1),
      |cd AS (
      |  SELECT a.label AS li, b.label AS lj,
      |    sqrt(CAST(SUM(CAST(ROUND((a.ce - b.ce) * (a.ce - b.ce)
      |      / 1e12, 9) AS DECIMAL(38,9))) AS DOUBLE)) AS dij
      |  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label <> b.label
      |  GROUP BY 1, 2),
      |ratios AS (
      |  SELECT li, ROUND(MAX((si.s + sj.s) / dij), 9) AS db_i
      |  FROM cd
      |  JOIN sca si ON si.label = cd.li
      |  JOIN sca sj ON sj.label = cd.lj
      |  GROUP BY 1),
      |dball AS (
      |  SELECT ROUND(CAST(SUM(CAST(db_i AS DECIMAL(38,9))) AS DOUBLE)
      |    / COUNT(*), 6) AS db_index
      |  FROM ratios)
      |SELECT s.label, s.n, ROUND(s.s, 6) AS scatter,
      |  ROUND(db_i, 6) AS worst_ratio, db_index
      |FROM ratios r JOIN sca s ON r.li = s.label CROSS JOIN dball
      |ORDER BY s.label""".stripMargin

  /** q355: per-label embedding outliers by standardized (diagonal-
    * Mahalanobis) distance — for each label: per-dim mean/variance from
    * 1e-6-grid integer moments, every vector's z² = Σ_d ((v−μ_d)/σ_d)²
    * (per-dim terms snapped to 1e-9, decimal fold), top-3 outliers
    * reported with their z. The vector-level mislabel/corruption screen
    * next to q158's scalar MAD outliers and q299's label-margin: a
    * point far from ITS OWN label's cloud in standardized units is a
    * labeling or ingestion suspect. One explode, moment join, per-label
    * top-k window.
    */
  def q355EmbedOutliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec9 = org.apache.spark.sql.types.DecimalType(38, 9)
    val pts = table(spark, dir, "embeddings")
      .select($"vec_id", $"label", posexplode($"embedding").as(Seq("dim", "v")))
      .select($"vec_id", $"label", $"dim",
        round($"v".cast("double") * 1e6).cast("long").as("x"))
      .localCheckpoint()
    val mom = pts.groupBy($"label", $"dim")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"x".cast(org.apache.spark.sql.types.DecimalType(19, 0)) *
          $"x".cast(org.apache.spark.sql.types.DecimalType(19, 0))).as("sxx"))
      .select($"label", $"dim",
        ($"sx".cast("double") / $"n").as("mu"),
        (($"n" * $"sxx" - $"sx".cast(org.apache.spark.sql.types.DecimalType(19, 0)) *
          $"sx".cast(org.apache.spark.sql.types.DecimalType(19, 0)))
          .cast("double") /
          ($"n".cast("double") * $"n".cast("double"))).as("varr"))
    val z2 = pts.join(mom, Seq("label", "dim"))
      .filter($"varr" > 0)
      .groupBy($"vec_id", $"label")
      .agg(sum(round(($"x" - $"mu") * ($"x" - $"mu") / $"varr", 9)
        .cast(dec9)).as("z2"))
    val w = Window.partitionBy($"label")
      .orderBy($"z2".desc, $"vec_id")
    z2.withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 3)
      .select($"label", $"rn", $"vec_id",
        round(sqrt($"z2".cast("double")), 6).as("z"))
      .orderBy($"label", $"rn")
  }

  val q355Sql: String =
    """WITH pts AS (
      |  SELECT vec_id, label, dim,
      |    CAST(round(CAST(v AS DOUBLE) * 1e6) AS BIGINT) AS x
      |  FROM (SELECT vec_id, label, unnest(embedding) AS v,
      |          unnest(range(len(embedding))) AS dim
      |        FROM embeddings)),
      |mom AS (
      |  SELECT label, dim,
      |    CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mu,
      |    CAST(COUNT(*) * SUM(CAST(x AS DECIMAL(19,0))
      |        * CAST(x AS DECIMAL(19,0)))
      |      - CAST(SUM(x) AS DECIMAL(19,0)) * CAST(SUM(x) AS DECIMAL(19,0))
      |      AS DOUBLE)
      |      / (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)) AS varr
      |  FROM pts GROUP BY 1, 2),
      |z2 AS (
      |  SELECT vec_id, p.label,
      |    SUM(CAST(ROUND((x - mu) * (x - mu) / varr, 9) AS DECIMAL(38,9)))
      |      AS z2
      |  FROM pts p JOIN mom m ON p.label = m.label AND p.dim = m.dim
      |  WHERE varr > 0
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT label, vec_id, z2,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY label
      |      ORDER BY z2 DESC, vec_id) AS BIGINT) AS rn
      |  FROM z2)
      |SELECT label, rn, vec_id,
      |  ROUND(sqrt(CAST(z2 AS DOUBLE)), 6) AS z
      |FROM ranked WHERE rn <= 3 ORDER BY label, rn""".stripMargin

  /** q358: rank-biased overlap (RBO@20, p=0.9) between the full-dim
    * cosine ranking and the 16-dim truncated ranking — the
    * rank-SENSITIVE companion to q149's set recall: recall@k treats a
    * demotion from rank 1 to rank 5 as free, RBO charges it by the
    * top-weighted (1−p)·Σ p^{d−1}·|A_d∩B_d|/d prefix sum ("how safe is
    * serving the cheaper truncated index REALLY"). Depth-overlap counts
    * are exact integers on the (probes × 20)-bounded join; the
    * geometric weights are fixed-order doubles snapped to 1e-9 before
    * the decimal fold. Per-probe RBO plus the fleet mean.
    */
  def q358RboAgreement(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec9 = org.apache.spark.sql.types.DecimalType(38, 9)
    val corpus = emb(spark, dir)
    val probes = corpus.filter($"vec_id" < 5)
    def top20(c: DataFrame, p: DataFrame): DataFrame =
      graft.api.Similarity.cosineKnn(c, p, "vec_id", "embedding", 20)
        .select($"probe_id", $"rn", $"cand_id")
    val full = top20(corpus, probes).localCheckpoint()
    val trunc = top20(
      corpus.select($"vec_id", slice($"embedding", 1, 16).as("embedding")),
      probes.select($"vec_id", slice($"embedding", 1, 16).as("embedding")))
      .select($"probe_id", $"rn".as("rb"), $"cand_id")
    val common = full.select($"probe_id", $"rn".as("ra"), $"cand_id")
      .join(trunc, Seq("probe_id", "cand_id"))
      .select($"probe_id", greatest($"ra", $"rb").as("dmin"))
    val depths = spark.range(1, 21).toDF("d")
    val xd = probes.select($"vec_id".as("probe_id"))
      .crossJoin(broadcast(depths))
      .join(common, Seq("probe_id"), "left")
      .groupBy($"probe_id", $"d")
      .agg(sum(when($"dmin" <= $"d", 1L).otherwise(0L)).as("x"))
    val perProbe = xd
      .select($"probe_id", $"d", $"x",
        round(lit(0.1) * pow(lit(0.9), $"d" - 1) * $"x" / $"d", 9)
          .cast(dec9).as("term"))
      .groupBy($"probe_id")
      .agg(sum($"term").as("rbo_d"),
        max(when($"d" === 20, $"x")).as("overlap20"))
      .select($"probe_id", $"overlap20",
        round($"rbo_d".cast("double"), 6).as("rbo"))
      .localCheckpoint()
    val mean = perProbe
      .agg(round(sum($"rbo".cast(dec9)).cast("double") / count(lit(1)), 6)
        .as("mean_rbo"))
    perProbe.crossJoin(broadcast(mean))
      .select($"probe_id", $"overlap20", $"rbo", $"mean_rbo")
      .orderBy($"probe_id")
  }

  val q358Sql: String =
    s"""WITH c AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE ${posNormSql("embedding")}),
       |p AS (SELECT vec_id, embedding FROM c WHERE vec_id < 5),
       |full_r AS (
       |  SELECT probe_id, rn AS ra, cand_id FROM (
       |    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |        ORDER BY ${cosSql("p.embedding", "c.embedding")} DESC,
       |          c.vec_id) AS rn
       |    FROM p JOIN c ON c.vec_id <> p.vec_id)
       |  WHERE rn <= 20),
       |ct AS (
       |  SELECT vec_id, list_slice(embedding, 1, 16) AS embedding FROM c
       |  WHERE ${posNormSql("list_slice(embedding, 1, 16)")}),
       |pt AS (SELECT vec_id, embedding FROM ct WHERE vec_id < 5),
       |tr AS (
       |  SELECT probe_id, rn AS rb, cand_id FROM (
       |    SELECT pt.vec_id AS probe_id, ct.vec_id AS cand_id,
       |      ROW_NUMBER() OVER (PARTITION BY pt.vec_id
       |        ORDER BY ${cosSql("pt.embedding", "ct.embedding")} DESC,
       |          ct.vec_id) AS rn
       |    FROM pt JOIN ct ON ct.vec_id <> pt.vec_id)
       |  WHERE rn <= 20),
       |common AS (
       |  SELECT f.probe_id, GREATEST(ra, rb) AS dmin
       |  FROM full_r f JOIN tr t
       |    ON t.probe_id = f.probe_id AND t.cand_id = f.cand_id),
       |xd AS (
       |  SELECT pr.probe_id, d.d,
       |    CAST(SUM(CASE WHEN dmin <= d.d THEN 1 ELSE 0 END) AS BIGINT)
       |      AS x
       |  FROM (SELECT vec_id AS probe_id FROM p) pr
       |  CROSS JOIN (SELECT CAST(unnest(range(1, 21)) AS BIGINT) AS d) d
       |  LEFT JOIN common ON common.probe_id = pr.probe_id
       |  GROUP BY 1, 2),
       |per AS (
       |  SELECT probe_id,
       |    MAX(CASE WHEN d = 20 THEN x END) AS overlap20,
       |    ROUND(CAST(SUM(CAST(ROUND(0.1 * power(0.9, d - 1) * x / d, 9)
       |      AS DECIMAL(38,9))) AS DOUBLE), 6) AS rbo
       |  FROM xd GROUP BY 1),
       |m AS (
       |  SELECT ROUND(CAST(SUM(CAST(rbo AS DECIMAL(38,9))) AS DOUBLE)
       |    / COUNT(*), 6) AS mean_rbo
       |  FROM per)
       |SELECT probe_id, overlap20, rbo, mean_rbo
       |FROM per CROSS JOIN m ORDER BY probe_id""".stripMargin

  val queries: Seq[(String, Q)] = Seq(
    "q358_rbo_agreement" -> (q358RboAgreement _),
    "q355_embed_outliers" -> (q355EmbedOutliers _),
    "q352_davies_bouldin" -> (q352DaviesBouldin _),
    "q351_reciprocal_align" -> (q351ReciprocalAlign _),
    "q320_mi_feature_rank" -> (q320MiFeatureRank _),
    "q319_knn_graph_audit" -> (q319KnnGraphAudit _),
    "q318_pca_power" -> (q318PcaPower _),
    "q299_label_margin" -> (q299LabelMargin _),
    "q286_ndcg_card" -> (q286NdcgCard _),
    "q285_mmr_diversified" -> (q285MmrDiversified _),
    "q263_jl_distortion" -> (q263JlDistortion _),
    "q264_jl_search_recall" -> (q264JlSearchRecall _),
    "q246_silhouette_card" -> (q246SilhouetteCard _),
    "q205_embed_quality" -> (q205EmbedQuality _),
    "q196_embed_covariance" -> (q196EmbedCovariance _),
    "q186_centroid_shift" -> (q186CentroidShift _),
    "q173_embed_decon" -> (q173EmbedDecon _),
    "q164_knn_label_vote" -> (q164KnnLabelVote _),
    "q165_label_cosine_gap" -> (q165LabelCosineGap _),
    "q155_pq_adc" -> (q155PqAdc _),
    "q156_srp_search" -> (q156SrpSearch _),
    "q157_dim_corr" -> (q157DimCorr _),
    "q151_rrf_fusion" -> (q151RrfFusion _),
    "q149_truncated_recall" -> (q149TruncatedRecall _),
    "q87_quantize_int8" -> (q87QuantizeInt8 _),
    "q42_cosine_knn" -> (q42CosineKnn _),
    "q43_ivf_knn" -> (q43IvfKnn _),
    "q45_topk_udaf" -> (q45TopkUdaf _),
    "q49_embed_near_dup" -> (q49EmbedNearDup _),
    "q52_embed_dim_stats" -> (q52EmbedDimStats _),
    "q76_label_centroids" -> (q76LabelCentroids _),
    "q82_ivf_near_dup" -> (q82IvfNearDup _),
    "q83_knn_shuffled" -> (q83KnnShuffled _),
    "q91_quantized_knn" -> (q91QuantizedKnn _),
    "q92_kmeans_step" -> (q92KmeansStep _),
    "q99_ivf_nprobe" -> (q99IvfNprobe _),
    "q123_semantic_dedup" -> (q123SemanticDedup _),
    "q125_incremental_semdedup" -> (q125IncrementalSemdedup _),
    "q126_pq_encode" -> (q126PqEncode _))

  val oracles: Seq[(String, String)] = Seq(
    "q358_rbo_agreement" -> q358Sql,
    "q355_embed_outliers" -> q355Sql,
    "q352_davies_bouldin" -> q352Sql,
    "q351_reciprocal_align" -> q351Sql,
    "q320_mi_feature_rank" -> q320Sql,
    "q319_knn_graph_audit" -> q319Sql,
    "q318_pca_power" -> q318Sql,
    "q299_label_margin" -> q299Sql,
    "q286_ndcg_card" -> q286Sql,
    "q285_mmr_diversified" -> q285Sql,
    "q263_jl_distortion" -> q263Sql,
    "q264_jl_search_recall" -> q264Sql,
    "q246_silhouette_card" -> q246Sql,
    "q205_embed_quality" -> q205Sql,
    "q196_embed_covariance" -> q196Sql,
    "q186_centroid_shift" -> q186Sql,
    "q173_embed_decon" -> q173Sql,
    "q164_knn_label_vote" -> q164Sql,
    "q165_label_cosine_gap" -> q165Sql,
    "q155_pq_adc" -> q155Sql,
    "q156_srp_search" -> q156Sql,
    "q157_dim_corr" -> q157Sql,
    "q87_quantize_int8" -> q87Sql,
    "q42_cosine_knn" -> q42Sql,
    "q149_truncated_recall" -> q149Sql,
    "q151_rrf_fusion" -> q151Sql,
    "q43_ivf_knn" -> q43Sql,
    "q45_topk_udaf" -> q45Sql,
    "q49_embed_near_dup" -> q49Sql,
    "q52_embed_dim_stats" -> q52Sql,
    "q76_label_centroids" -> q76Sql,
    "q82_ivf_near_dup" -> q82Sql,
    "q83_knn_shuffled" -> q83Sql,
    "q91_quantized_knn" -> q91Sql,
    "q92_kmeans_step" -> q92Sql,
    "q99_ivf_nprobe" -> q99Sql,
    "q123_semantic_dedup" -> q123Sql,
    "q125_incremental_semdedup" -> q125Sql,
    "q126_pq_encode" -> q126Sql)
}
