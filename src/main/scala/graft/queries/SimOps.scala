package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{ParquetFooters, Tables}
import graft.functions.GraftFunctions

/** Embedding similarity search over `embeddings` (64-dim float vectors):
  * brute-force cosine top-k as the exactness baseline, IVF-style
  * cluster-probed ANN as the scale path, and blocked near-dup pairing.
  *
  * Cross-engine determinism: every cosine is computed with the same formula
  * — an index-order dot product accumulated in double over elements cast to
  * double ([[graft.functions.FloatVectorDot]], a codegen'd native Catalyst
  * expression ≡ `list_dot_product` on `DOUBLE[]` in DuckDB; float→double
  * casts are exact, float×float products fit double exactly, both engines
  * accumulate in index order).
  *
  * Scale notes: squared norms are computed ONCE per vector in a projection
  * — never per pair. The brute-force query broadcasts the (tiny) query set
  * and streams candidates; the IVF variant bounds candidate generation by
  * cluster assignment, the pattern that survives 100 TB where all-pairs
  * does not.
  */
object SimOps {

  /** (vec_id, embedding, n2) with the squared norm precomputed. */
  private def withNorms(e: DataFrame, extra: String*): DataFrame =
    e.select((Seq("vec_id", "embedding") ++ extra).map(col) :+
      GraftFunctions.vecDot(col("embedding"), col("embedding")).as("n2"): _*)

  private def cosine(dotCol: Column, n2a: Column, n2b: Column): Column =
    dotCol / sqrt(n2a * n2b)

  /** DuckDB-side mirror of the cosine formula. */
  private def sqlCosine(a: String, b: String): String =
    s"list_dot_product($a, $b) / sqrt(list_dot_product($a, $a) * list_dot_product($b, $b))"

  // ---------------------------------------------------------------- q50
  /** Brute-force cosine top-k: 8 query vectors × all candidates, exact
    * ranking. Query side broadcast; candidates never shuffled pre-rank. */
  val q50AnnBruteforce = Q(
    "q50_ann_bruteforce",
    (s, d) => {
      GraftFunctions.register(s)
      val e = withNorms(Tables.embeddings(s, d))
      val queries = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("n2").as("qn2"))
      val cands = e.select(col("vec_id").as("vid"),
        col("embedding").as("cv"), col("n2").as("cn2"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vid"))
      broadcast(queries).join(cands, col("qid") =!= col("vid"))
        .withColumn("cos", cosine(
          GraftFunctions.vecDot(col("qv"), col("cv")),
          col("qn2"), col("cn2")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("vid"),
          round(col("cos"), 6).as("cos_r"))
        .orderBy(col("qid"), col("rank"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings),
      scored AS (
        SELECT q.vec_id AS qid, c.vec_id AS vid,
          ${sqlCosine("q.v", "c.v")} AS cos
        FROM e q JOIN e c ON q.vec_id < 8 AND q.vec_id <> c.vec_id),
      ranked AS (
        SELECT qid, vid, cos, row_number() OVER (
          PARTITION BY qid ORDER BY cos DESC, vid) AS rank
        FROM scored)
      SELECT qid, rank, vid, round(cos, 6) AS cos_r FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank"""))

  // ---------------------------------------------------------------- q51
  /** IVF-style ANN: 16 fixed centroids (lowest vec_ids — a deterministic
    * stand-in for trained centroids), every vector assigned to its nearest
    * centroid, queries probe their top-2 centroids only. Approximate by
    * construction but fully deterministic, so the oracle replicates it
    * exactly. */
  val q51AnnIvf = Q(
    "q51_ann_ivf",
    (s, d) => {
      GraftFunctions.register(s)
      val e = withNorms(Tables.embeddings(s, d))
      val cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"),
          col("n2").as("cn2"))
      def assign(src: DataFrame, topN: Int) = {
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("ccos").desc, col("cid"))
        src.crossJoin(broadcast(cents))
          .withColumn("ccos", cosine(
            GraftFunctions.vecDot(col("embedding"), col("cv")),
            col("n2"), col("cn2")))
          .withColumn("crank", row_number().over(w))
          .filter(col("crank") <= topN)
          .select(src("vec_id"), src("embedding"), src("n2"),
            col("cid").as("cluster"))
      }
      val assigned = assign(e, 1)
      val probes = assign(e.filter(col("vec_id") < 8), 2)
        .withColumnRenamed("vec_id", "qid")
        .withColumnRenamed("embedding", "qv")
        .withColumnRenamed("n2", "qn2")
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vid"))
      probes.join(
          assigned.withColumnRenamed("vec_id", "vid")
            .withColumnRenamed("embedding", "cv")
            .withColumnRenamed("n2", "cn2"),
          Seq("cluster"))
        .filter(col("qid") =!= col("vid"))
        .withColumn("cos", cosine(
          GraftFunctions.vecDot(col("qv"), col("cv")),
          col("qn2"), col("cn2")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("vid"),
          round(col("cos"), 6).as("cos_r"))
        .orderBy(col("qid"), col("rank"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings),
      cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
      assigned AS (
        SELECT vec_id, v, cid AS cluster FROM (
          SELECT e.vec_id, e.v, c.cid, row_number() OVER (
            PARTITION BY e.vec_id
            ORDER BY ${sqlCosine("e.v", "c.cv")} DESC, c.cid) AS crank
          FROM e CROSS JOIN cents c) a WHERE crank = 1),
      probes AS (
        SELECT vec_id AS qid, v AS qv, cid AS cluster FROM (
          SELECT e.vec_id, e.v, c.cid, row_number() OVER (
            PARTITION BY e.vec_id
            ORDER BY ${sqlCosine("e.v", "c.cv")} DESC, c.cid) AS crank
          FROM e CROSS JOIN cents c WHERE e.vec_id < 8) a WHERE crank <= 2),
      scored AS (
        SELECT p.qid, a.vec_id AS vid,
          ${sqlCosine("p.qv", "a.v")} AS cos
        FROM probes p JOIN assigned a ON p.cluster = a.cluster
        WHERE p.qid <> a.vec_id),
      ranked AS (
        SELECT qid, vid, cos, row_number() OVER (
          PARTITION BY qid ORDER BY cos DESC, vid) AS rank FROM scored)
      SELECT qid, rank, vid, round(cos, 6) AS cos_r FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank"""))

  // ---------------------------------------------------------------- q52
  /** Embedding-cosine near-duplicate pairs, blocked by `label` (the
    * blocking key stands in for an LSH bucket): exact cosine ≥ 0.25 within
    * block only — pair space bounded by block sizes, never all-pairs. */
  val q52EmbedNeardup = Q(
    "q52_embed_neardup",
    (s, d) => {
      GraftFunctions.register(s)
      val e = withNorms(Tables.embeddings(s, d), "label")
      val a = e.alias("a")
      val b = e.alias("b")
      a.join(b,
          col("a.label") === col("b.label") &&
          col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos", cosine(
          GraftFunctions.vecDot(col("a.embedding"), col("b.embedding")),
          col("a.n2"), col("b.n2")))
        .filter(col("cos") >= 0.25)
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          col("a.label").as("label"), round(col("cos"), 6).as("cos_r"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        FROM embeddings)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
        round(${sqlCosine("a.v", "b.v")}, 6) AS cos_r
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE ${sqlCosine("a.v", "b.v")} >= 0.25
      ORDER BY id_a, id_b"""))

  // ---------------------------------------------------------------- q127
  /** LSH-bucketed ANN — the signed-random-projection alternative to q51's
    * IVF: 8 deterministic hyperplanes (vec_ids 16..23, a stand-in for
    * sampled Gaussian planes), every vector hashed to a 256-bucket
    * signature from the sign bits of its plane dots, queries probing their
    * own bucket only. Fully deterministic, so the oracle replays the
    * entire bucketed path — signatures included — not just the output.
    *
    * Scale shape: signature assignment is a broadcast crossJoin against H
    * planes (one linear pass), candidates come from a bucket equi-join —
    * the same bounded-candidates property as MinHash banding, with recall
    * tunable by H and multi-probe. Never all-pairs.
    */
  /** Signed-random-projection bucket per vector: 8 deterministic
    * hyperplanes (vec_ids 16..23, a stand-in for sampled Gaussian
    * planes), bucket = the sign-bit signature of the plane dots. The ONE
    * definition of the bucketing rule — q127 scores its candidates on
    * floats, q144 on int8 codes; both must keep identical buckets or
    * their oracles silently diverge. */
  private[queries] def lshPlanes(e: DataFrame): DataFrame =
    e.filter(col("vec_id") >= 16 && col("vec_id") < 24)
      .select((col("vec_id") - 16).as("pid"), col("embedding").as("pv"))

  private def lshBuckets(e: DataFrame): DataFrame =
    graft.operators.AnnIndex.buckets(e, "vec_id", "embedding", lshPlanes(e))

  val q127AnnLsh = Q(
    "q127_ann_lsh",
    (s, d) => {
      GraftFunctions.register(s)
      val e = withNorms(Tables.embeddings(s, d))
      val assigned = e.join(lshBuckets(e), Seq("vec_id"))
      val queries = assigned.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("n2").as("qn2"), col("bucket"))
      val cands = assigned.select(col("vec_id").as("vid"),
        col("embedding").as("cv"), col("n2").as("cn2"), col("bucket"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vid"))
      queries.join(cands, Seq("bucket"))
        .filter(col("qid") =!= col("vid"))
        .withColumn("cos", cosine(
          GraftFunctions.vecDot(col("qv"), col("cv")),
          col("qn2"), col("cn2")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("vid"),
          round(col("cos"), 6).as("cos_r"))
        .orderBy(col("qid"), col("rank"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings),
      planes AS (
        SELECT vec_id - 16 AS pid, v AS pv FROM e
        WHERE vec_id >= 16 AND vec_id < 24),
      buckets AS (
        SELECT e.vec_id, sum(CASE
            WHEN list_dot_product(e.v, p.pv) > 0
            THEN cast(1 << p.pid AS bigint) ELSE 0 END) AS bucket
        FROM e CROSS JOIN planes p GROUP BY e.vec_id),
      assigned AS (
        SELECT e.vec_id, e.v, b.bucket FROM e
        JOIN buckets b ON e.vec_id = b.vec_id),
      scored AS (
        SELECT q.vec_id AS qid, c.vec_id AS vid,
          ${sqlCosine("q.v", "c.v")} AS cos
        FROM assigned q JOIN assigned c ON q.bucket = c.bucket
        WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
      ranked AS (
        SELECT qid, vid, cos, row_number() OVER (
          PARTITION BY qid ORDER BY cos DESC, vid) AS rank FROM scored)
      SELECT qid, rank, vid, round(cos, 6) AS cos_r FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank"""))

  // ---------------------------------------------------------------- q138
  /** Int8-quantized ANN ([[graft.operators.VectorQuantization]]): the
    * candidate scan runs on 4×-smaller integer codes with exact integer
    * dot products, ranked by the quantized cosine (integer dot over
    * integer code norms — a ratio of exact integers, so the scores are
    * bit-reproducible cross-engine and the oracle replays quantization,
    * dots, and ranking EXACTLY, not within a tolerance). q50 is the
    * float-exact baseline this approximates; at 100 TB the quantized scan
    * is the wide pass and float re-ranking runs only on survivors. */
  val q138AnnQuantized = Q(
    "q138_ann_quantized",
    (s, d) => {
      import graft.operators.VectorQuantization._
      val q8 = quantizeInt8(Tables.embeddings(s, d), "embedding")
        .select(col("vec_id"), col("q8"), col("qnorm2"))
      val queries = q8.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("q8").as("qa"),
          col("qnorm2").as("qn2a"))
      val cands = q8.select(col("vec_id").as("vid"), col("q8").as("qb"),
        col("qnorm2").as("qn2b"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("qcos").desc, col("vid"))
      broadcast(queries).join(cands, col("qid") =!= col("vid"))
        .withColumn("qdot", int8Dot(col("qa"), col("qb")))
        .withColumn("qcos",
          quantizedCosine(col("qdot"), col("qn2a"), col("qn2b")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("vid"), col("qdot"),
          round(col("qcos"), 6).as("qcos_r"))
        .orderBy(col("qid"), col("rank"))
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings),
      s AS (SELECT vec_id, v,
        127.0 / greatest(list_max(list_transform(v, x -> abs(x))), 1e-30)
          AS scale FROM e),
      q AS (SELECT vec_id,
        list_transform(v, x -> cast(round(x * scale) AS BIGINT)) AS qv
        FROM s),
      n AS (SELECT vec_id, qv,
        cast(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]) AS BIGINT)
          AS qn2 FROM q),
      scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS vid,
          cast(list_dot_product(a.qv::DOUBLE[], b.qv::DOUBLE[]) AS BIGINT)
            AS qdot,
          list_dot_product(a.qv::DOUBLE[], b.qv::DOUBLE[])
            / sqrt(a.qn2::DOUBLE * b.qn2::DOUBLE) AS qcos
        FROM n a JOIN n b ON a.vec_id < 8 AND a.vec_id <> b.vec_id),
      ranked AS (
        SELECT qid, vid, qdot, qcos, row_number() OVER (
          PARTITION BY qid ORDER BY qcos DESC, vid) AS rank
        FROM scored)
      SELECT qid, rank, vid, qdot, round(qcos, 6) AS qcos_r FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank"""))

  // ---------------------------------------------------------------- q144
  /** The composed 100 TB ANN shape: LSH bucketing (q127's signed random
    * projections) bounds the CANDIDATE SET, int8 quantization (q138's
    * codes) shrinks what the candidate scan READS — per-bucket scoring on
    * integer dots over 4×-smaller vectors. Both layers are deterministic,
    * so the oracle replays buckets, codes, dots, and ranking exactly. */
  val q144AnnLshQuantized = Q(
    "q144_ann_lsh_quantized",
    (s, d) => {
      GraftFunctions.register(s)
      import graft.operators.VectorQuantization._
      val e = Tables.embeddings(s, d)
      val assigned = quantizeInt8(e, "embedding")
        .select(col("vec_id"), col("q8"), col("qnorm2"))
        .join(lshBuckets(e), Seq("vec_id"))
      val queries = assigned.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("q8").as("qa"),
          col("qnorm2").as("qn2a"), col("bucket"))
      val cands = assigned.select(col("vec_id").as("vid"),
        col("q8").as("qb"), col("qnorm2").as("qn2b"), col("bucket"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("qcos").desc, col("vid"))
      queries.join(cands, Seq("bucket"))
        .filter(col("qid") =!= col("vid"))
        .withColumn("qdot", int8Dot(col("qa"), col("qb")))
        .withColumn("qcos",
          quantizedCosine(col("qdot"), col("qn2a"), col("qn2b")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("vid"), col("qdot"),
          round(col("qcos"), 6).as("qcos_r"))
        .orderBy(col("qid"), col("rank"))
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings),
      planes AS (
        SELECT vec_id - 16 AS pid, v AS pv FROM e
        WHERE vec_id >= 16 AND vec_id < 24),
      buckets AS (
        SELECT e.vec_id, sum(CASE
            WHEN list_dot_product(e.v, p.pv) > 0
            THEN cast(1 << p.pid AS bigint) ELSE 0 END) AS bucket
        FROM e CROSS JOIN planes p GROUP BY e.vec_id),
      s AS (SELECT vec_id, v,
        127.0 / greatest(list_max(list_transform(v, x -> abs(x))), 1e-30)
          AS scale FROM e),
      q AS (SELECT vec_id,
        list_transform(v, x -> cast(round(x * scale) AS BIGINT)) AS qv
        FROM s),
      n AS (SELECT q.vec_id, qv,
        cast(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]) AS BIGINT)
          AS qn2, b.bucket
        FROM q JOIN buckets b ON q.vec_id = b.vec_id),
      scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS vid,
          cast(list_dot_product(a.qv::DOUBLE[], b.qv::DOUBLE[]) AS BIGINT)
            AS qdot,
          list_dot_product(a.qv::DOUBLE[], b.qv::DOUBLE[])
            / sqrt(a.qn2::DOUBLE * b.qn2::DOUBLE) AS qcos
        FROM n a JOIN n b ON a.bucket = b.bucket
        WHERE a.vec_id < 8 AND a.vec_id <> b.vec_id),
      ranked AS (
        SELECT qid, vid, qdot, qcos, row_number() OVER (
          PARTITION BY qid ORDER BY qcos DESC, vid) AS rank
        FROM scored)
      SELECT qid, rank, vid, qdot, round(qcos, 6) AS qcos_r FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank"""))

  // ---------------------------------------------------------------- q155
  /** Quantized k-means assignment ([[graft.operators.QuantizedKMeans]]):
    * every embedding assigned to its nearest of 6 deterministic seed
    * centroids by EXACT integer squared distance on int8 codes
    * (|a|² + |c|² − 2·a·c), ties to the lowest centroid id. Because
    * every distance is an integer, the oracle replays quantization,
    * seeding, all 6 distances, and the argmin EXACTLY — the
    * hash-verifiable clustering step float k-means cannot offer. */
  val q155KmeansAssign = Q(
    "q155_kmeans_assign",
    (s, d) => {
      import graft.operators.{QuantizedKMeans, VectorQuantization}
      val q = VectorQuantization
        .quantizeInt8(Tables.embeddings(s, d), "embedding")
        .select(col("vec_id"), col("q8"), col("qnorm2"))
      val cents = QuantizedKMeans.seedCentroids(q, "vec_id", k = 6)
      QuantizedKMeans.assign(q, cents, "vec_id")
        .select(col("vec_id"), col("cluster_id"), col("qd2"))
        .orderBy(col("vec_id"))
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings),
      s AS (SELECT vec_id, v,
        127.0 / greatest(list_max(list_transform(v, x -> abs(x))), 1e-30)
          AS scale FROM e),
      q AS (SELECT vec_id,
        list_transform(v, x -> cast(round(x * scale) AS BIGINT)) AS qv
        FROM s),
      n AS (SELECT vec_id, qv,
        cast(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]) AS BIGINT)
          AS qn2 FROM q),
      c AS (SELECT vec_id AS cluster_id, qv AS cv, qn2 AS cn2
        FROM n ORDER BY vec_id LIMIT 6),
      d AS (SELECT n.vec_id, c.cluster_id,
          n.qn2 + c.cn2 - 2 * cast(
            list_dot_product(n.qv::DOUBLE[], c.cv::DOUBLE[]) AS BIGINT)
            AS qd2,
          row_number() OVER (PARTITION BY n.vec_id
            ORDER BY n.qn2 + c.cn2 - 2 * cast(
              list_dot_product(n.qv::DOUBLE[], c.cv::DOUBLE[]) AS BIGINT),
              c.cluster_id) AS rk
        FROM n CROSS JOIN c)
      SELECT vec_id, cluster_id, qd2 FROM d WHERE rk = 1
      ORDER BY vec_id"""))

  // ---------------------------------------------------------------- q161
  /** Incrementally-maintained ANN index ([[graft.operators.AnnIndex]] —
    * the embedding twin of q139's incremental MinHash index): the
    * corpus's (bucket, int8 code) rows are indexed to parquet ONCE, a
    * new embedding batch APPENDS its rows in O(batch), and the probe set
    * top-ks against the stored index — corpus embeddings are never
    * re-read. The oracle replays buckets, quantization, integer dots,
    * and ranking over exactly the indexed id range, so the verdict pins
    * both the index contents and the probe. */
  val q161AnnIncremental = Q(
    "q161_ann_incremental",
    (s, d) => {
      GraftFunctions.register(s)
      import graft.operators.AnnIndex
      val e = Tables.embeddings(s, d)
      val planes = lshPlanes(e)
      val work = graft.core.TempWork.dir("graft-q161")
      // epoch 0: the standing corpus, indexed once
      AnnIndex.indexRows(e.filter(col("vec_id") >= 16),
          "vec_id", "embedding", planes)
        .write.parquet(s"$work/index")
      // epoch 1: a new batch lands — append ONLY its rows
      AnnIndex.indexRows(
          e.filter(col("vec_id") >= 8 && col("vec_id") < 16),
          "vec_id", "embedding", planes)
        .write.mode("append").parquet(s"$work/index")
      // probes (fresh queries) against the stored index
      val probes = AnnIndex.indexRows(e.filter(col("vec_id") < 8),
        "vec_id", "embedding", planes)
      AnnIndex.topK(ParquetFooters.read(s, s"$work/index"), probes, k = 5)
        .orderBy(col("qid"), col("rank"))
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings),
      planes AS (
        SELECT vec_id - 16 AS pid, v AS pv FROM e
        WHERE vec_id >= 16 AND vec_id < 24),
      buckets AS (
        SELECT e.vec_id, sum(CASE
            WHEN list_dot_product(e.v, p.pv) > 0
            THEN cast(1 << p.pid AS bigint) ELSE 0 END) AS bucket
        FROM e CROSS JOIN planes p GROUP BY e.vec_id),
      s AS (SELECT vec_id, v,
        127.0 / greatest(list_max(list_transform(v, x -> abs(x))), 1e-30)
          AS scale FROM e),
      q AS (SELECT vec_id,
        list_transform(v, x -> cast(round(x * scale) AS BIGINT)) AS qv
        FROM s),
      n AS (SELECT q.vec_id, qv,
        cast(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]) AS BIGINT)
          AS qn2, b.bucket
        FROM q JOIN buckets b ON q.vec_id = b.vec_id),
      scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS vid,
          cast(list_dot_product(a.qv::DOUBLE[], b.qv::DOUBLE[]) AS BIGINT)
            AS qdot,
          list_dot_product(a.qv::DOUBLE[], b.qv::DOUBLE[])
            / sqrt(a.qn2::DOUBLE * b.qn2::DOUBLE) AS qcos
        FROM n a JOIN n b ON a.bucket = b.bucket
        WHERE a.vec_id < 8 AND b.vec_id >= 8),
      ranked AS (
        SELECT qid, vid, qdot, qcos, row_number() OVER (
          PARTITION BY qid ORDER BY qcos DESC, vid) AS rank
        FROM scored)
      SELECT qid, rank, vid, qdot, round(qcos, 6) AS qcos_r FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank"""))

  // ---------------------------------------------------------------- q172
  /** Cluster-balanced sampling — the diversity-quota curation step:
    * embeddings are clustered (q155's integer-exact k-means assignment)
    * and each cluster contributes exactly 20 md5-ranked vectors, so the
    * sample covers the embedding space instead of mirroring its density
    * skew. ONE plan composes two individually-oracled operators; the
    * oracle replays quantization, seeding, argmin, AND the per-cluster
    * hash ranking, pinning the composition end-to-end. */
  val q172ClusterBalanced = Q(
    "q172_cluster_balanced_sample",
    (s, d) => {
      import graft.operators.{QuantizedKMeans, StratifiedSample,
        VectorQuantization}
      val q = VectorQuantization
        .quantizeInt8(Tables.embeddings(s, d), "embedding")
        .select(col("vec_id"), col("q8"), col("qnorm2"))
      val assigned = QuantizedKMeans
        .assign(q, QuantizedKMeans.seedCentroids(q, "vec_id", 6), "vec_id")
        .select(col("vec_id"), col("cluster_id"))
      StratifiedSample
        .exactPerStratum(assigned, "cluster_id", "vec_id", k = 20)
        .select(col("cluster_id"), col("sample_rank"), col("vec_id"))
        .orderBy(col("cluster_id"), col("sample_rank"))
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings),
      s AS (SELECT vec_id, v,
        127.0 / greatest(list_max(list_transform(v, x -> abs(x))), 1e-30)
          AS scale FROM e),
      q AS (SELECT vec_id,
        list_transform(v, x -> cast(round(x * scale) AS BIGINT)) AS qv
        FROM s),
      n AS (SELECT vec_id, qv,
        cast(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]) AS BIGINT)
          AS qn2 FROM q),
      c AS (SELECT vec_id AS cluster_id, qv AS cv, qn2 AS cn2
        FROM n ORDER BY vec_id LIMIT 6),
      d AS (SELECT n.vec_id, c.cluster_id,
          row_number() OVER (PARTITION BY n.vec_id
            ORDER BY n.qn2 + c.cn2 - 2 * cast(
              list_dot_product(n.qv::DOUBLE[], c.cv::DOUBLE[]) AS BIGINT),
              c.cluster_id) AS rk
        FROM n CROSS JOIN c),
      a AS (SELECT vec_id, cluster_id FROM d WHERE rk = 1),
      r AS (SELECT cluster_id, vec_id, row_number() OVER (
          PARTITION BY cluster_id
          ORDER BY md5(cast(vec_id AS varchar)), vec_id) AS sample_rank
        FROM a)
      SELECT cluster_id, sample_rank, vec_id FROM r
      WHERE sample_rank <= 20 ORDER BY cluster_id, sample_rank"""))

  // ---------------------------------------------------------------- q223
  /** Product-quantization ADC retrieval
    * ([[graft.operators.ProductQuantization]]): the corpus's int8 codes
    * split into 4 subspaces, snap to 16-entry deterministic codebooks,
    * and every query ranks the corpus from a broadcast m×k integer
    * distance table — per corpus vector the score is 4 lookups and
    * adds, never a 64-dim dot. Because codebooks, codes, and every
    * summed sub-distance are integers, the oracle replays the WHOLE PQ
    * pipeline (quantize → slice → codebook → encode argmin → ADC sum →
    * rank) and the verdict pins it end-to-end — the hash-verifiable
    * form of the compressed-domain search that serves billion-vector
    * corpora. */
  val q223PqAdc = Q(
    "q223_pq_adc",
    (s, d) => {
      import graft.operators.{ProductQuantization => PQ, VectorQuantization}
      val q = VectorQuantization
        .quantizeInt8(Tables.embeddings(s, d), "embedding")
        .select(col("vec_id"), col("q8"))
      val corpus = q.filter(col("vec_id") >= 8)
      val queries = q.filter(col("vec_id") < 8)
      val books = PQ.codebooks(corpus, "vec_id", m = 4, k = 16)
      val enc = PQ.encode(corpus, books, "vec_id", m = 4)
      PQ.adcTopK(queries, "vec_id", books, enc, "vec_id", m = 4, k = 5)
        .orderBy(col("qid"), col("rank"))
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings),
      s AS (SELECT vec_id, v,
        127.0 / greatest(list_max(list_transform(v, x -> abs(x))), 1e-30)
          AS scale FROM e),
      q AS (SELECT vec_id,
        list_transform(v, x -> cast(round(x * scale) AS BIGINT)) AS qv
        FROM s),
      sub AS (SELECT vec_id, u.s AS subspace,
          qv[u.s * 16 + 1 : u.s * 16 + 16] AS sv
        FROM q, unnest(generate_series(0, 3)) AS u(s)),
      subn AS (SELECT vec_id, subspace, sv,
        cast(list_dot_product(sv::DOUBLE[], sv::DOUBLE[]) AS BIGINT)
          AS svn2 FROM sub),
      seedids AS (SELECT vec_id,
          row_number() OVER (ORDER BY vec_id) - 1 AS code
        FROM (SELECT DISTINCT vec_id FROM subn WHERE vec_id >= 8
          ORDER BY vec_id LIMIT 16) t),
      cb AS (SELECT n.subspace, si.code, n.sv AS cv, n.svn2 AS cvn2
        FROM subn n JOIN seedids si USING (vec_id)),
      encd AS (SELECT n.vec_id, n.subspace, c.code,
          row_number() OVER (PARTITION BY n.vec_id, n.subspace
            ORDER BY n.svn2 + c.cvn2 - 2 * cast(
              list_dot_product(n.sv::DOUBLE[], c.cv::DOUBLE[]) AS BIGINT),
            c.code) AS rk
        FROM subn n JOIN cb c USING (subspace) WHERE n.vec_id >= 8),
      codes AS (SELECT vec_id, subspace, code FROM encd WHERE rk = 1),
      qtab AS (SELECT n.vec_id AS qid, n.subspace, c.code,
          n.svn2 + c.cvn2 - 2 * cast(
            list_dot_product(n.sv::DOUBLE[], c.cv::DOUBLE[]) AS BIGINT)
            AS sub_d2
        FROM subn n JOIN cb c USING (subspace) WHERE n.vec_id < 8),
      adc AS (SELECT qt.qid, k.vec_id,
          cast(sum(qt.sub_d2) AS BIGINT) AS adc_d2
        FROM codes k JOIN qtab qt
          ON qt.subspace = k.subspace AND qt.code = k.code
        GROUP BY 1, 2),
      r AS (SELECT qid, vec_id, adc_d2, row_number() OVER (
          PARTITION BY qid ORDER BY adc_d2, vec_id) AS rank FROM adc)
      SELECT qid, cast(rank AS bigint) AS rank, vec_id, adc_d2
      FROM r WHERE rank <= 5 ORDER BY qid, rank"""))

  // ---------------------------------------------------------------- q225
  /** TRAINED product quantization
    * ([[graft.operators.ProductQuantization]] trainedCodebooks): two
    * Lloyd iterations per subspace refine the seed codebooks before
    * encoding and ADC retrieval — the path that buys retrieval recall
    * (ProductQuantizationSpec measures 0.43 → 0.95 recall@10 on
    * cluster-blind seeds). Because centroid updates stay on the integer
    * lattice (round(sum/n), one IEEE division per cell), the ENTIRE
    * training run replays in SQL: the oracle unrolls both iterations —
    * assign argmin, per-dim integer mean, empty-code carryover — then
    * encode and ADC, so the driver hash pins trained-PQ end-to-end. */
  val q225PqTrained = Q(
    "q225_pq_trained",
    (s, d) => {
      import graft.operators.{ProductQuantization => PQ, VectorQuantization}
      val q = VectorQuantization
        .quantizeInt8(Tables.embeddings(s, d), "embedding")
        .select(col("vec_id"), col("q8"))
      val corpus = q.filter(col("vec_id") >= 8)
      val queries = q.filter(col("vec_id") < 8)
      val books = PQ.trainedCodebooks(corpus, "vec_id", m = 2, k = 4,
        iters = 2)
      val enc = PQ.encode(corpus, books, "vec_id", m = 2)
      PQ.adcTopK(queries, "vec_id", books, enc, "vec_id", m = 2, k = 5)
        .orderBy(col("qid"), col("rank"))
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings),
      sc AS (SELECT vec_id, v,
        127.0 / greatest(list_max(list_transform(v, x -> abs(x))), 1e-30)
          AS scale FROM e),
      q AS (SELECT vec_id,
        list_transform(v, x -> cast(round(x * scale) AS BIGINT)) AS qv
        FROM sc),
      sub AS (SELECT vec_id, u.s AS subspace,
          qv[u.s * 32 + 1 : u.s * 32 + 32] AS sv
        FROM q, unnest(generate_series(0, 1)) AS u(s)),
      subn AS (SELECT vec_id, subspace, sv,
        cast(list_dot_product(sv::DOUBLE[], sv::DOUBLE[]) AS BIGINT)
          AS svn2 FROM sub),
      seedids AS (SELECT vec_id,
          row_number() OVER (ORDER BY vec_id) - 1 AS code
        FROM (SELECT DISTINCT vec_id FROM subn WHERE vec_id >= 8
          ORDER BY vec_id LIMIT 4) t),
      cb0 AS (SELECT n.subspace, si.code, n.sv AS cv, n.svn2 AS cvn2
        FROM subn n JOIN seedids si USING (vec_id)),
      asg1 AS (SELECT vec_id, subspace, code FROM (
        SELECT n.vec_id, n.subspace, c.code,
          row_number() OVER (PARTITION BY n.vec_id, n.subspace
            ORDER BY n.svn2 + c.cvn2 - 2 * cast(
              list_dot_product(n.sv::DOUBLE[], c.cv::DOUBLE[]) AS BIGINT),
            c.code) AS rk
        FROM subn n JOIN cb0 c USING (subspace) WHERE n.vec_id >= 8) t
        WHERE rk = 1),
      upd1 AS (SELECT subspace, code,
          list(cc ORDER BY d) AS cv
        FROM (SELECT a.subspace, a.code, u.d,
            cast(round(cast(sum(n.sv[u.d]) AS BIGINT)
              / count(*)) AS BIGINT) AS cc
          FROM asg1 a JOIN subn n USING (vec_id, subspace),
            unnest(generate_series(1, 32)) AS u(d)
          GROUP BY 1, 2, 3) t GROUP BY 1, 2),
      cb1 AS (SELECT c.subspace, c.code,
          coalesce(u.cv, c.cv) AS cv,
          cast(list_dot_product(coalesce(u.cv, c.cv)::DOUBLE[],
            coalesce(u.cv, c.cv)::DOUBLE[]) AS BIGINT) AS cvn2
        FROM cb0 c LEFT JOIN upd1 u USING (subspace, code)),
      asg2 AS (SELECT vec_id, subspace, code FROM (
        SELECT n.vec_id, n.subspace, c.code,
          row_number() OVER (PARTITION BY n.vec_id, n.subspace
            ORDER BY n.svn2 + c.cvn2 - 2 * cast(
              list_dot_product(n.sv::DOUBLE[], c.cv::DOUBLE[]) AS BIGINT),
            c.code) AS rk
        FROM subn n JOIN cb1 c USING (subspace) WHERE n.vec_id >= 8) t
        WHERE rk = 1),
      upd2 AS (SELECT subspace, code,
          list(cc ORDER BY d) AS cv
        FROM (SELECT a.subspace, a.code, u.d,
            cast(round(cast(sum(n.sv[u.d]) AS BIGINT)
              / count(*)) AS BIGINT) AS cc
          FROM asg2 a JOIN subn n USING (vec_id, subspace),
            unnest(generate_series(1, 32)) AS u(d)
          GROUP BY 1, 2, 3) t GROUP BY 1, 2),
      cb2 AS (SELECT c.subspace, c.code,
          coalesce(u.cv, c.cv) AS cv,
          cast(list_dot_product(coalesce(u.cv, c.cv)::DOUBLE[],
            coalesce(u.cv, c.cv)::DOUBLE[]) AS BIGINT) AS cvn2
        FROM cb1 c LEFT JOIN upd2 u USING (subspace, code)),
      encd AS (SELECT vec_id, subspace, code FROM (
        SELECT n.vec_id, n.subspace, c.code,
          row_number() OVER (PARTITION BY n.vec_id, n.subspace
            ORDER BY n.svn2 + c.cvn2 - 2 * cast(
              list_dot_product(n.sv::DOUBLE[], c.cv::DOUBLE[]) AS BIGINT),
            c.code) AS rk
        FROM subn n JOIN cb2 c USING (subspace) WHERE n.vec_id >= 8) t
        WHERE rk = 1),
      qtab AS (SELECT n.vec_id AS qid, n.subspace, c.code,
          n.svn2 + c.cvn2 - 2 * cast(
            list_dot_product(n.sv::DOUBLE[], c.cv::DOUBLE[]) AS BIGINT)
            AS sub_d2
        FROM subn n JOIN cb2 c USING (subspace) WHERE n.vec_id < 8),
      adc AS (SELECT qt.qid, k.vec_id,
          cast(sum(qt.sub_d2) AS BIGINT) AS adc_d2
        FROM encd k JOIN qtab qt
          ON qt.subspace = k.subspace AND qt.code = k.code
        GROUP BY 1, 2),
      r AS (SELECT qid, vec_id, adc_d2, row_number() OVER (
          PARTITION BY qid ORDER BY adc_d2, vec_id) AS rank FROM adc)
      SELECT qid, cast(rank AS bigint) AS rank, vec_id, adc_d2
      FROM r WHERE rank <= 5 ORDER BY qid, rank"""))

  // ---------------------------------------------------------------- q231
  /** IVF-ADC retrieval ([[graft.operators.IvfAdc]]) — the two-level ANN
    * architecture: 6 coarse centroid lists, each query probes its 2
    * nearest, PQ ADC (m=4, 16-entry codebooks) ranks only the probed
    * lists' members. Every level is integer arithmetic, so the oracle
    * replays list assignment, probe selection, codebooks, codes, and
    * the candidate-restricted ADC sums end-to-end — the full q223
    * pipeline plus the coarse quantizer in one hash-pinned statement. */
  val q231IvfAdc = Q(
    "q231_ivf_adc",
    (s, d) => {
      import graft.operators.{IvfAdc, VectorQuantization}
      val q = VectorQuantization
        .quantizeInt8(Tables.embeddings(s, d), "embedding")
        .select(col("vec_id"), col("q8"), col("qnorm2"))
      IvfAdc.topK(
          q.filter(col("vec_id") >= 8), q.filter(col("vec_id") < 8),
          "vec_id", "vec_id",
          coarseK = 6, nprobe = 2, m = 4, pqK = 16, k = 5)
        .orderBy(col("qid"), col("rank"))
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings),
      s AS (SELECT vec_id, v,
        127.0 / greatest(list_max(list_transform(v, x -> abs(x))), 1e-30)
          AS scale FROM e),
      q AS (SELECT vec_id,
        list_transform(v, x -> cast(round(x * scale) AS BIGINT)) AS qv
        FROM s),
      fn AS (SELECT vec_id, qv,
        cast(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]) AS BIGINT)
          AS qn2 FROM q),
      c AS (SELECT vec_id AS cluster_id, qv AS cv, qn2 AS cn2
        FROM fn WHERE vec_id >= 8 ORDER BY vec_id LIMIT 6),
      asg AS (SELECT vec_id, cluster_id FROM (
        SELECT fn.vec_id, c.cluster_id,
          row_number() OVER (PARTITION BY fn.vec_id
            ORDER BY fn.qn2 + c.cn2 - 2 * cast(
              list_dot_product(fn.qv::DOUBLE[], c.cv::DOUBLE[]) AS BIGINT),
              c.cluster_id) AS rk
        FROM fn CROSS JOIN c WHERE fn.vec_id >= 8) z WHERE rk = 1),
      probes AS (SELECT qid, cluster_id FROM (
        SELECT fn.vec_id AS qid, c.cluster_id,
          row_number() OVER (PARTITION BY fn.vec_id
            ORDER BY fn.qn2 + c.cn2 - 2 * cast(
              list_dot_product(fn.qv::DOUBLE[], c.cv::DOUBLE[]) AS BIGINT),
              c.cluster_id) AS rk
        FROM fn CROSS JOIN c WHERE fn.vec_id < 8) z WHERE rk <= 2),
      cands AS (SELECT p.qid, a.vec_id
        FROM probes p JOIN asg a USING (cluster_id)),
      sub AS (SELECT vec_id, u.s AS subspace,
          qv[u.s * 16 + 1 : u.s * 16 + 16] AS sv
        FROM q, unnest(generate_series(0, 3)) AS u(s)),
      subn AS (SELECT vec_id, subspace, sv,
        cast(list_dot_product(sv::DOUBLE[], sv::DOUBLE[]) AS BIGINT)
          AS svn2 FROM sub),
      seedids AS (SELECT vec_id,
          row_number() OVER (ORDER BY vec_id) - 1 AS code
        FROM (SELECT DISTINCT vec_id FROM subn WHERE vec_id >= 8
          ORDER BY vec_id LIMIT 16) t),
      cb AS (SELECT sn.subspace, si.code, sn.sv AS cv2, sn.svn2 AS cvn2
        FROM subn sn JOIN seedids si USING (vec_id)),
      encd AS (SELECT sn.vec_id, sn.subspace, cb.code,
          row_number() OVER (PARTITION BY sn.vec_id, sn.subspace
            ORDER BY sn.svn2 + cb.cvn2 - 2 * cast(
              list_dot_product(sn.sv::DOUBLE[], cb.cv2::DOUBLE[]) AS BIGINT),
            cb.code) AS rk
        FROM subn sn JOIN cb USING (subspace) WHERE sn.vec_id >= 8),
      codes AS (SELECT vec_id, subspace, code FROM encd WHERE rk = 1),
      qtab AS (SELECT sn.vec_id AS qid, sn.subspace, cb.code,
          sn.svn2 + cb.cvn2 - 2 * cast(
            list_dot_product(sn.sv::DOUBLE[], cb.cv2::DOUBLE[]) AS BIGINT)
            AS sub_d2
        FROM subn sn JOIN cb USING (subspace) WHERE sn.vec_id < 8),
      adc AS (SELECT cd.qid, k2.vec_id,
          cast(sum(qt.sub_d2) AS BIGINT) AS adc_d2
        FROM cands cd
        JOIN codes k2 ON cd.vec_id = k2.vec_id
        JOIN qtab qt ON qt.qid = cd.qid
          AND qt.subspace = k2.subspace AND qt.code = k2.code
        GROUP BY 1, 2),
      r AS (SELECT qid, vec_id, adc_d2, row_number() OVER (
          PARTITION BY qid ORDER BY adc_d2, vec_id) AS rank FROM adc)
      SELECT qid, cast(rank AS bigint) AS rank, vec_id, adc_d2
      FROM r WHERE rank <= 5 ORDER BY qid, rank"""))

  // ---------------------------------------------------------------- q248
  /** Sparse-sign random projection
    * ([[graft.operators.RandomProjection]]): every 64-dim embedding
    * down to 8 dims through a plan-time-constant ±1 matrix — map-only,
    * zero shuffles, one codegen chain per output. The oracle SQL is
    * GENERATED from the same sign constants in the same fixed
    * left-associative order, so the doubles hash-match without
    * rounding. */
  val q248RandomProjection = Q(
    "q248_random_projection",
    (s, d) => {
      graft.operators.RandomProjection
        .project(Tables.embeddings(s, d), col("embedding"),
          inDim = 64, outDim = 8)
        .select(col("vec_id") +:
          (0 until 8).map(k => col(s"p$k")): _*)
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings)
      SELECT vec_id,
        ${graft.operators.RandomProjection
          .oracleExprs("v", inDim = 64, outDim = 8).mkString(",\n        ")}
      FROM e ORDER BY vec_id"""))

  // ---------------------------------------------------------------- q258
  /** Exact MMR diversified re-ranking ([[graft.operators.Mmr]]) on the
    * integer lattice, composed end-to-end from the verified pieces:
    * q248's plan-time-constant random projection 64→8, the q138
    * round-to-lattice quantization (×1000), integer dot-product
    * relevance of every item against the 20 query vectors, a top-20
    * relevance pre-cut, then 5 greedy MMR rounds at λ=1/2 — every
    * selection objective `rel − maxSim` an exact bigint, every argmax
    * tie-broken by item id. The oracle GENERATES the projection
    * chains, the quantization, and all five selection rounds as
    * chained CTEs, so the whole diversified list is hash-pinned
    * rank-for-rank. */
  val q258Mmr = Q(
    "q258_mmr_rerank",
    (s, d) => {
      val proj = graft.operators.RandomProjection
        .project(Tables.embeddings(s, d), col("embedding"),
          inDim = 64, outDim = 8)
      val z = proj.select(col("vec_id"),
        array((0 until 8).map(j =>
          round(col(s"p$j") * 1000).cast("long")): _*).as("zv"))
      val queries = z.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("zv").as("qv"))
      val pairs = z.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("cand"),
          graft.operators.Mmr.dotL(col("qv"), col("zv")).as("rel"),
          col("zv"))
      val cands = pairs
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("rel").desc, col("cand"))))
        .filter(col("__rn") <= 20)
      graft.operators.Mmr
        .rerank(cands, col("qid"), col("cand"), col("rel"), col("zv"),
          k = 5, lambdaNum = 1, lambdaDen = 2)
        .orderBy(col("query"), col("rank"))
    },
    Some {
      val pChains = graft.operators.RandomProjection
        .oracleExprs("v", inDim = 64, outDim = 8)
      val zCols = (0 until 8).map(j =>
        s"cast(round(p$j * 1000) AS bigint) AS z$j")
      val iCols = (0 until 8).map(j => s"i$j")
      def dotZZ(a: String, b: String): String =
        (0 until 8).map(j => s"$a.z$j * $b.z$j").mkString(" + ")
      def dotCI(c: String, s: String): String =
        (0 until 8).map(j => s"$c.i$j * $s.i$j").mkString(" + ")
      // per selection round t >= 2: remaining = cands minus selected,
      // ms = max sim to the selected set, argmax of rel - ms
      def round(t: Int): String = {
        val u = s"u${t - 1}"
        s"""r$t AS (SELECT c.q, c.item, c.rel,
          ${iCols.map(ic => s"c.$ic").mkString(", ")},
          max(${dotCI("c", "s")}) AS ms
        FROM cands c JOIN $u s ON c.q = s.q
        WHERE NOT EXISTS (SELECT 1 FROM $u x
          WHERE x.q = c.q AND x.item = c.item)
        GROUP BY c.q, c.item, c.rel,
          ${iCols.map(ic => s"c.$ic").mkString(", ")}),
      s$t AS (SELECT q, item, rel, ms, rel - ms AS score,
          cast($t AS bigint) AS rank, ${iCols.mkString(", ")}
        FROM (SELECT r.*, row_number() OVER (PARTITION BY q
            ORDER BY rel - ms DESC, item) AS rn FROM r$t r) x
        WHERE rn = 1),
      u$t AS (SELECT * FROM u${t - 1} UNION ALL
        SELECT q, item, rel, ms, score, rank, ${iCols.mkString(", ")}
        FROM s$t)"""
      }
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
          FROM embeddings),
      p AS (SELECT vec_id, ${pChains.mkString(",\n        ")} FROM e),
      z AS (SELECT vec_id, ${zCols.mkString(", ")} FROM p),
      c0 AS (SELECT qz.vec_id AS q, iz.vec_id AS item,
          ${dotZZ("qz", "iz")} AS rel,
          ${(0 until 8).map(j => s"iz.z$j AS i$j").mkString(", ")}
        FROM z qz JOIN z iz ON iz.vec_id <> qz.vec_id
        WHERE qz.vec_id < 20),
      cands AS (SELECT q, item, rel, ${iCols.mkString(", ")}
        FROM (SELECT c0.*, row_number() OVER (PARTITION BY q
            ORDER BY rel DESC, item) AS rn FROM c0) x
        WHERE rn <= 20),
      s1 AS (SELECT q, item, rel, cast(0 AS bigint) AS ms,
          rel AS score, cast(1 AS bigint) AS rank,
          ${iCols.mkString(", ")}
        FROM (SELECT cands.*, row_number() OVER (PARTITION BY q
            ORDER BY rel DESC, item) AS rn FROM cands) x
        WHERE rn = 1),
      u1 AS (SELECT q, item, rel, ms, score, rank,
        ${iCols.mkString(", ")} FROM s1),
      ${(2 to 5).map(round).mkString(",\n      ")}
      SELECT q AS query, rank, item, rel, ms AS max_sim, score
      FROM u5 ORDER BY query, rank"""
    })

  val all: Seq[Q] = Seq(q50AnnBruteforce, q51AnnIvf, q52EmbedNeardup,
    q127AnnLsh, q138AnnQuantized, q144AnnLshQuantized, q155KmeansAssign,
    q161AnnIncremental, q172ClusterBalanced, q223PqAdc, q225PqTrained,
    q231IvfAdc, q248RandomProjection, q258Mmr)
}
