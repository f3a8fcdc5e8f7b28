package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.{OpModule, Session}
import graft.functions.VectorDot
import graft.sources.{Cached, Sql, Tables}

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * nn1 is the brute-force cosine top-k baseline; nn2/nn3 are the scale
  * path: a deterministic sign-bit LSH bucketing (8 hyperoctant bits →
  * 256 buckets) so candidate generation is an equi-join on bucket, not a
  * cross join. At 100 TB the bucket id is the shuffle/partition key and
  * each reducer scores only its own bucket.
  *
  * All arithmetic is done in double (`transform(embedding, x -> double)`)
  * with a sequential left-fold dot product, matching DuckDB's
  * `list_dot_product` evaluation order bit-for-bit; results are rounded
  * to 6 decimals on both sides.
  */
object SimilarityOps extends OpModule {

  /** embeddings with a double-typed vector column `emb`. */
  def emb(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("emb"))

  val embSql: String =
    "emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings)"

  /** Per-label centroids — the IVF coarse quantizer (nn4, pp3). Entries
    * rounded to 6 decimals so both engines hold bit-identical centroids. */
  def centroids(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("emb")).as(Seq("i", "x")))
      .groupBy("label", "i").agg(round(avg("x"), 6).as("cx"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(i, cx))), p -> p.cx)")
        .as("centroid"))

  /** DuckDB counterpart of [[centroids]]. */
  val centSql: String =
    """cent AS (
      |  SELECT label, array_agg(cx ORDER BY i) AS centroid
      |  FROM (SELECT label, i, ROUND(AVG(emb[i]), 6) AS cx
      |        FROM emb, generate_series(1, 64) AS g(i)
      |        GROUP BY label, i) c
      |  GROUP BY label)""".stripMargin

  /** Sequential dot product of two array<double> columns — the codegen'd
    * [[graft.functions.VectorDot]] expression (bit-identical to the
    * interpreted `aggregate(zip_with(...))` fold, ~10x less per-row
    * overhead), built directly as `DedupOps.h60` builds Hash60. */
  def dot(a: String, b: String): Column =
    ColumnBridge.toColumn(
      VectorDot(ColumnBridge.toExpression(col(a)), ColumnBridge.toExpression(col(b))))

  /** The IVF coarse-probe relation shared by nn4 and nn15: the fixture
    * query vector (vec_id 0) paired with its nearest centroid's list
    * label — one row, broadcast by the callers. */
  private def centroidProbe(e: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") === 0).select(col("emb").as("qe"))
    centroids(e).crossJoin(broadcast(q))
      .withColumn("csim", dot("centroid", "qe"))
      .orderBy(col("csim").desc, col("label")).limit(1)
      .select(col("label"), col("qe"))
  }

  /** Cosine-ranked top-5 of a (emb, qe, vec_id) relation — the shared
    * fine-search tail of nn4 and nn15. */
  private def cosineTop5(scored: DataFrame): DataFrame =
    scored
      .withColumn("cos",
        dot("emb", "qe") / (sqrt(dot("emb", "emb")) * sqrt(dot("qe", "qe"))))
      .orderBy(col("cos").desc, col("vec_id")).limit(5)
      .select(col("vec_id"), round(col("cos"), 6).as("cos"))

  /** Sign-bit LSH bucket from the first 8 dimensions. Deliberately an
    * UNROLLED sum of CASEs rather than `aggregate(sequence(0,7), ...)`:
    * a higher-order function's lambda hides its outer column reference
    * from parts of the optimizer, and when this expression defines a
    * join key that alias-substitution expands, predicate pushdown then
    * misroutes the substituted condition to the WRONG join side
    * (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at execution — hit by nn12).
    * The unrolled form reports its references correctly, and is also
    * whole-stage-codegen-friendlier (no per-row lambda dispatch). */
  private[graft] val bucketExpr =
    expr((0 to 7).map(i =>
      s"(CASE WHEN emb[$i] > 0D THEN ${1 << i} ELSE 0 END)").mkString(" + "))

  private val bucketsSql =
    """buckets AS (
      |  SELECT vec_id, emb,
      |         CAST(SUM(CASE WHEN emb[i] > 0 THEN CAST(2**(i-1) AS INT)
      |                  ELSE 0 END) AS INT) AS bucket
      |  FROM emb, generate_series(1, 8) AS g(i)
      |  GROUP BY vec_id, emb)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // brute-force cosine top-10 around query vector 0 (the correctness
    // baseline every ANN variant is judged against)
    "nn1_cosine_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("emb").as("qe"))
      e.crossJoin(broadcast(q))
        .withColumn("cos",
          dot("emb", "qe") / (sqrt(dot("emb", "emb")) * sqrt(dot("qe", "qe"))))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), round(col("cos"), 6).as("cos"))
    }),

    // LSH-bucketed ANN: candidates = the query's sign-bucket only
    "nn2_lsh_ann" -> ((s, dir) => {
      val b = emb(s, dir).withColumn("bucket", bucketExpr)
      val q = b.filter(col("vec_id") === 0)
        .select(col("bucket"), col("emb").as("qe"))
      b.join(broadcast(q), Seq("bucket"))
        .withColumn("cos",
          dot("emb", "qe") / (sqrt(dot("emb", "emb")) * sqrt(dot("qe", "qe"))))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(5)
        .select(col("vec_id"), round(col("cos"), 6).as("cos"))
    }),

    // IVF-style ANN: coarse quantizer = per-label centroids (rounded to
    // 6 decimals so both engines agree bit-for-bit), probe = the
    // query's nearest centroid, fine search only within that list.
    // At scale the label/list id is the partition key; only 1/nlists of
    // the corpus is scanned per query.
    "nn4_ivf_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      e.join(broadcast(centroidProbe(e)), Seq("label"))
        .transform(cosineTop5)
    }),

    // NN15 — PARTITIONED IVF LAYOUT (round 11): the serving-side layout
    // claim of SCALE.md's ANN section made real, the way k15/g6 did for
    // joins/graphs: the corpus is written ONCE `partitionBy(list)` (the
    // coarse-quantizer list id, as in nn4), and the probe joins the
    // 1-row broadcast probe relation against the partition column — so
    // Spark inserts a DYNAMIC PARTITION PRUNING subquery into the scan
    // (pinned in PlanSpec) and reads only the probed list's directory.
    // At 100 TB a probe touches 1/nlists of the corpus by pure METADATA;
    // no full-corpus scan, no data-side filter. Result set is nn4's
    // (same corpus, same probe choice), which is what the oracle
    // replays relationally (DuckDB has no partition concept — the
    // layout is the Spark-side demonstration, the values are the gate).
    // The layout is written once per (session, dir) — the serving
    // reality: build once, probe many — into a scratch dir of this
    // process (Fs), so concurrent harness JVMs never race on one
    // directory. Cached marks it done only AFTER the write succeeds, so
    // a failed write never leaves later calls reading a partial layout.
    "nn15_partitioned_ivf_probe" -> ((s, dir) => {
      val e = emb(s, dir)
      val out = Cached.once(s, s"nn15:$dir") {
        val p = graft.model.Fs.scratch("nn15", dir)
        e.withColumn("list", col("label"))
          .write.mode("overwrite").partitionBy("list").parquet(p)
        p
      }
      s.read.parquet(out)
        .join(broadcast(centroidProbe(e).withColumnRenamed("label", "list")),
          Seq("list"))
        .transform(cosineTop5)
    }),

    // embedding-cosine near-dup pairs inside buckets (the dedup use of
    // ANN): per-vector partner count, bounded output
    "nn3_bucket_neardup" -> ((s, dir) => {
      val b = emb(s, dir).withColumn("bucket", bucketExpr)
      val l = b.select(col("bucket"), col("vec_id").as("va"), col("emb").as("ea"))
      val r = b.select(col("bucket"), col("vec_id").as("vb"), col("emb").as("eb"))
      l.join(r, Seq("bucket")).filter(col("va") < col("vb"))
        .withColumn("cos",
          dot("ea", "eb") / (sqrt(dot("ea", "ea")) * sqrt(dot("eb", "eb"))))
        .filter(col("cos") > 0.3) // ≈p99 of the corpus pair distribution
        .groupBy(col("va").as("vec_id")).agg(count(lit(1)).as("n_neardups"))
    }),

    // nn7 — the embedding-space counterpart of dd6's capstone pipeline:
    // sign-bucketed candidate pairs → cosine verification (> 0.3, nn3's
    // threshold) → drop the higher vec_id of each verified pair → keep
    // list via anti-join. Candidate generation is the bucket equi-join
    // (never all-pairs), verification touches candidates only, and the
    // drop set is small relative to the corpus — the same 100 TB shape
    // as the text-side dedup filter.
    "nn7_embed_dedup_filter" -> ((s, dir) => {
      val b = emb(s, dir).withColumn("bucket", bucketExpr)
      val l = b.select(col("bucket"), col("vec_id").as("va"), col("emb").as("ea"))
      val r = b.select(col("bucket"), col("vec_id").as("vb"), col("emb").as("eb"))
      val drops = l.join(r, Seq("bucket")).filter(col("va") < col("vb"))
        .withColumn("cos",
          dot("ea", "eb") / (sqrt(dot("ea", "ea")) * sqrt(dot("eb", "eb"))))
        .filter(col("cos") > 0.3)
        .select(col("vb").as("vec_id")).distinct()
      emb(s, dir).join(drops, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("label"))
    }),

    // nn6 — BATCH top-k: many query vectors scored in one pass (the
    // serving/eval shape — one job for the whole query batch, not a
    // query loop). The query batch broadcasts; ranking is a window per
    // qid, so the shuffle key is the query id — at corpus scale the
    // batch is large and the key well-distributed (8 ids here).
    "nn6_batch_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("emb").as("qe"))
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
      e.crossJoin(broadcast(q))
        .withColumn("cos",
          dot("emb", "qe") / (sqrt(dot("emb", "emb")) * sqrt(dot("qe", "qe"))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("vec_id"), round(col("cos"), 6).as("cos"))
    }),

    // nn5 — the SQL FRONT DOOR for similarity: vector_dot is callable
    // from plain spark.sql because GraftExtensions injects it as a
    // native function at session build. Same scoring as nn1 around a
    // different query vector, so the two paths cross-check each other.
    "nn5_sql_vecdot" -> ((s, dir) =>
      Session.sql(s, "emb_v" -> emb(s, dir))(
        """SELECT e.vec_id,
          |       ROUND(vector_dot(e.emb, q.qe) /
          |         (sqrt(vector_dot(e.emb, e.emb)) * sqrt(vector_dot(q.qe, q.qe))), 6) AS cos
          |FROM emb_v e
          |CROSS JOIN (SELECT emb AS qe FROM emb_v WHERE vec_id = 1) q
          |ORDER BY vector_dot(e.emb, q.qe) /
          |  (sqrt(vector_dot(e.emb, e.emb)) * sqrt(vector_dot(q.qe, q.qe)))
          |  DESC, e.vec_id
          |LIMIT 10""".stripMargin)),

    // nn9 — INT8 EMBEDDING QUANTIZATION: per-dimension min/max scalar
    // quantization to 8 bits with a reconstruction-error report (the 4×
    // memory cut that keeps a 100 TB ANN index in RAM). min/max are
    // order-independent aggregates, the per-element quantize/dequantize
    // is exact IEEE arithmetic, and the error report uses only MAX (also
    // order-independent) — every number is bit-stable under any
    // partitioning without decimal machinery. The O(dims) bound relation
    // broadcasts; quantization itself is map-side.
    "nn9_quantize_int8" -> ((s, dir) => {
      val ex = emb(s, dir)
        .select(col("vec_id"), posexplode(col("emb")).as(Seq("i", "x")))
      val bounds = ex.groupBy("i")
        .agg(min("x").as("mn"), max("x").as("mx"))
      ex.join(broadcast(bounds), Seq("i"))
        .withColumn("q",
          when(col("mx") === col("mn"), 0)
            .otherwise(round((col("x") - col("mn"))
              / (col("mx") - col("mn")) * 255, 0)).cast("int"))
        .withColumn("err",
          abs(col("x") - (col("mn")
            + col("q") / 255.0 * (col("mx") - col("mn")))))
        .groupBy("i")
        .agg(min("q").as("q_lo"), max("q").as("q_hi"),
          round(max("err"), 6).as("max_err"))
        .select((col("i") + 1).cast("long").as("i"),
          col("q_lo"), col("q_hi"), col("max_err"))
    }),

    // nn8 — one distributed Lloyd step (spherical k-means): K=4 seed
    // vectors (vec_id 0..3, broadcast — K×dim doubles), map-side argmax
    // cosine assignment (rn=1 per vector, seed-id tiebreak), then the
    // mean recompute as a (cluster, dim)-keyed partial aggregation —
    // the shuffle carries one (sum, count) pair per (cluster, dim) per
    // partition, never a vector. Iterating the step re-broadcasts the
    // 256 refreshed means; this is exactly how Lloyd parallelizes at
    // 100 TB (assignment embarrassingly parallel, recompute one shuffle).
    "nn8_kmeans_step" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, dir)
      val seeds = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cluster"), col("emb").as("se"))
      val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("cluster"))
      val assigned = e.crossJoin(broadcast(seeds))
        .withColumn("cos",
          dot("emb", "se") / (sqrt(dot("emb", "emb")) * sqrt(dot("se", "se"))))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      assigned.select(col("cluster"), posexplode(col("emb")).as(Seq("i", "x")))
        .groupBy("cluster", "i")
        .agg(count(lit(1)).as("n"), round(avg("x"), 6).as("cx"))
        .select(col("cluster"), (col("i") + 1).cast("long").as("i"),
          col("n"), col("cx"))
    }),

    // NN10 — MAX-INNER-PRODUCT top-k via norm augmentation (Bachrach
    // et al. 2014): append sqrt(M² − ‖x‖²) to every corpus vector and 0
    // to the query, and cosine order in the augmented space IS inner-
    // product order (every augmented corpus norm equals M, so the
    // cosine is ⟨q,x⟩ scaled by the positive constant 1/(M·‖q‖)). That
    // reduction is why a cosine-only ANN structure (nn2's sign buckets,
    // nn4's IVF) serves MIPS retrieval unchanged — this query RANKS by
    // the augmented cosine and the oracle ranks by raw list_dot_product,
    // so the gate itself proves order equivalence. The augmentation
    // needs only sqrt (correctly-rounded IEEE — engine-identical; a pow
    // would not be). M² is one broadcast scalar; the scan is one pass.
    "nn10_mips_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 2).select(col("emb").as("qe"))
      val msq = e.select(dot("emb", "emb").as("nsq"))
        .agg(max("nsq").as("msq"))
      e.crossJoin(broadcast(q)).crossJoin(broadcast(msq))
        .withColumn("acos",
          dot("emb", "qe") / (sqrt(col("msq")) * sqrt(dot("qe", "qe"))))
        .orderBy(col("acos").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), round(dot("emb", "qe"), 6).as("ip"))
    }),

    // NN11 (extension) — ANN INDEX-QUALITY EVALUATION: recall@10 of the
    // sign-bucket LSH path (nn2's index) against brute-force ground
    // truth, per query — the measurement that decides whether an ANN
    // index is good enough to ship. One corpus scan scores all 8 query
    // vectors (broadcast query side, corpus never shuffles to score);
    // both top-10 cuts use the ds4 two-phase rank — phase 1 ranks within
    // (qid, input partition) and keeps ≤ K, so the final per-qid rank
    // sees ≤ K × numPartitions rows, never the corpus (qid cardinality
    // is 8: a direct per-qid window would be 8 reducers at 100 TB).
    // Ground truth over the FULL corpus is the eval-sample regime:
    // recall is evaluated on a fixed query sample, not all-pairs.
    "nn11_recall_eval" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val K = 10
      def top(df: DataFrame): DataFrame = {
        val order = Seq(col("cos").desc, col("vec_id"))
        val pre = Window.partitionBy(col("qid"), spark_partition_id())
          .orderBy(order: _*)
        val fin = Window.partitionBy("qid").orderBy(order: _*)
        df.withColumn("prn", row_number().over(pre)).filter(col("prn") <= K)
          .withColumn("rn", row_number().over(fin)).filter(col("rn") <= K)
          .select("qid", "vec_id")
      }
      val b = emb(s, dir).withColumn("bucket", bucketExpr)
      val q = b.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("bucket").as("qbucket"),
          col("emb").as("qe"))
      val scored = b.crossJoin(broadcast(q))
        .withColumn("cos",
          dot("emb", "qe") / (sqrt(dot("emb", "emb")) * sqrt(dot("qe", "qe"))))
      val bf = top(scored)
      val lsh = top(scored.filter(col("bucket") === col("qbucket")))
      bf.join(lsh.withColumn("hit", lit(1)), Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .select(col("qid"), col("n_hit"),
          round(col("n_hit") / col("k"), 6).as("recall"))
        .orderBy("qid")
    }),

    // NN12 (extension) — MULTI-PROBE LSH: the recall dial nn11 measures.
    // Each query probes its own sign-bucket PLUS the 8 Hamming-distance-1
    // neighbors (one flipped hyperplane bit) — 9× the candidates, far
    // higher recall, and the search STAYS an equi-join: the query side
    // explodes to its 9 probe buckets (9 rows per query, still a
    // broadcast-sized relation) and candidates come from a plain join on
    // the bucket id. The corpus is never rescored outside matched
    // buckets and never shuffles on anything but its bucket. Top-5 per
    // query via the same two-phase rank as nn11.
    "nn12_multiprobe_ann" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val K = 5
      val b = emb(s, dir).withColumn("bucket", bucketExpr)
      // The 9 probe buckets (own + 8 one-bit flips) come from a cross
      // join with a 9-row mask table rather than an explode: a generator
      // whose input inlines the higher-order bucket expression trips
      // Catalyst's generator pruning (INTERNAL_ERROR_ATTRIBUTE_NOT_
      // FOUND), and 4 queries × 9 masks is still a broadcast-sized
      // relation.
      import s.implicits._
      val qb = emb(s, dir).withColumn("bucket", bucketExpr)
        .filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("emb").as("qe"),
          col("bucket").cast("int").as("qbucket"))
      val masks = (-1 to 7).toDF("mask")
      val probes = qb.crossJoin(masks)
        .select(col("qid"), col("qe"),
          expr("CAST(CASE WHEN mask < 0 THEN qbucket ELSE " +
            "qbucket ^ CAST(pow(2, mask) AS INT) END AS INT)").as("pbucket"))
        .as("p")
      val order = Seq(col("cos").desc, col("vec_id"))
      val pre = Window.partitionBy(col("qid"), spark_partition_id())
        .orderBy(order: _*)
      val fin = Window.partitionBy("qid").orderBy(order: _*)
      b.as("c").join(broadcast(probes), col("c.bucket") === col("p.pbucket"))
        .withColumn("cos",
          dot("c.emb", "p.qe") /
            (sqrt(dot("c.emb", "c.emb")) * sqrt(dot("p.qe", "p.qe"))))
        .select(col("qid"), col("c.vec_id").as("vec_id"), col("cos"))
        .withColumn("prn", row_number().over(pre)).filter(col("prn") <= K)
        .withColumn("rn", row_number().over(fin)).filter(col("rn") <= K)
        .select(col("qid"), col("vec_id"), round(col("cos"), 6).as("cos"))
    }),

    // NN13 (extension) — PRODUCT QUANTIZATION + ADC: the memory half of
    // billion-scale ANN (FAISS's IVF*,PQ* family). Each 64-d vector is
    // cut into 4 subvectors of 16 dims; each subvector is replaced by
    // the id of its nearest codebook centroid (here: the subvectors of
    // the 16 lowest-vec_id anchors — a deterministic stand-in for a
    // k-means codebook; the assignment/search algebra is identical), so
    // a vector compresses 64 doubles → 4 small codes. Query scoring is
    // ASYMMETRIC distance: the query stays full-precision and its
    // distance to each DB vector is the sum of per-subspace distances to
    // the CODED centroids — 4 table lookups per candidate, no original
    // vectors touched.
    //
    // Scale shape: the codebook is k×m tiny and broadcasts everywhere;
    // encode is one corpus scan (broadcast join + min-distance argmin,
    // shuffle key (vec_id, sub) — well distributed); search scans only
    // CODES (m longs/vector, ~32 B instead of 512 B — the point of PQ),
    // with the query batch broadcast. Engine parity is exact: every
    // distance is composed of VectorDot products that match DuckDB's
    // list_dot_product bit-for-bit, the 4 subspace contributions are
    // added in fixed pivot-column order (never a float SUM whose order
    // the engine picks), and argmin ties break on centroid id.
    "nn13_pq_adc" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, dir)
      val cb = pqCodebook(e)
      val qsl = pqSlices(e.filter(col("vec_id") < 4), "qid", "qv")
      val contrib = pqCodes(e).join(broadcast(cb), Seq("sub", "cid"))
        .join(broadcast(qsl), Seq("sub"))
        .withColumn("d2", dot("qv", "qv") - lit(2) * dot("qv", "cvec")
          + dot("cvec", "cvec"))
      val adc = contrib.groupBy("qid", "vec_id")
        .pivot("sub", Seq(0, 1, 2, 3)).agg(first(col("d2")))
        .withColumn("adc", col("0") + col("1") + col("2") + col("3"))
      val w = Window.partitionBy("qid").orderBy(col("adc"), col("vec_id"))
      adc.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .select(col("qid"), col("vec_id"), round(col("adc"), 6).as("adc"))
    }),

    // NN14 (extension) — IVF-PQ: the two index halves composed, the
    // FAISS serving layout. IVF (nn4's per-label coarse quantizer)
    // prunes the corpus to ONE probed list; PQ (nn13's codebook) scores
    // only that list's CODES via asymmetric distance. At 100 TB the
    // scan touches one list's codes: partition pruning picks the list,
    // PQ shrinks its bytes 16× — neither full vectors nor other lists
    // are read. Everything broadcast here is tiny (coarse centroids,
    // codebook, query slices); the candidate gate is a broadcast
    // semi-join on the probed label.
    "nn14_ivfpq_ann" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 1)
      val probed = centroids(e).crossJoin(
          broadcast(q.select(col("emb").as("qe"))))
        .withColumn("cos", dot("centroid", "qe") /
          (sqrt(dot("centroid", "centroid")) * sqrt(dot("qe", "qe"))))
        .orderBy(col("cos").desc, col("label")).limit(1)
        .select("label")
      val cands = e.join(broadcast(probed), Seq("label"))
        .select("vec_id")
      val cb = pqCodebook(e)
      val qsl = pqSlices(q, "qid", "qv")
      val contrib = pqCodes(e)
        .join(broadcast(cands), Seq("vec_id"), "left_semi")
        .join(broadcast(cb), Seq("sub", "cid"))
        .join(broadcast(qsl), Seq("sub"))
        .withColumn("d2", dot("qv", "qv") - lit(2) * dot("qv", "cvec")
          + dot("cvec", "cvec"))
      val adc = contrib.groupBy("qid", "vec_id")
        .pivot("sub", Seq(0, 1, 2, 3)).agg(first(col("d2")))
        .withColumn("adc", col("0") + col("1") + col("2") + col("3"))
      val w = Window.partitionBy("qid").orderBy(col("adc"), col("vec_id"))
      adc.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("vec_id"), round(col("adc"), 6).as("adc"))
    })
  )

  /** Cut a 64-d vector frame into PQ subvectors: one row per (id, sub ∈
    * 0..3) with the 16-d slice. Shared by nn13/nn14. */
  private[graft] def pqSlices(df: DataFrame, idAs: String, vecAs: String): DataFrame =
    df.select(col("vec_id").as(idAs), explode(expr(
      "transform(sequence(0, 3), j -> struct(j AS sub, slice(emb, j*16+1, 16) AS v))"))
      .as("e"))
      .select(col(idAs), col("e.sub").as("sub"), col("e.v").as(vecAs))

  /** PQ codebook: the subvectors of the `anchors` lowest-vec_id anchors
    * (a deterministic stand-in for a k-means codebook — the
    * assignment/search algebra is identical). The registered nn13/nn14
    * queries use the default 16; the recorded quantization-loss axis
    * also measures 256 (the codebook-resolution arm — a 16-entry
    * codebook cannot rank within a planted cluster, see
    * records/QMETRICS_nn_recall_curve_r18.jsonl). */
  private[graft] def pqCodebook(e: DataFrame, anchors: Int = 16): DataFrame =
    pqSlices(e.filter(col("vec_id") < anchors), "cid", "cvec")

  /** PQ encoding of the whole corpus: nearest-centroid id per (vector,
    * subspace), argmin with deterministic (min distance, then min cid)
    * tie-break — matches the oracle's relational replay bit-for-bit.
    *
    * The argmin is a PER-ROW EXPRESSION, not a relation: the codebook
    * collapses to one 16-element array per subspace (4 rows, broadcast),
    * and each slice evaluates the codegen'd
    * [[graft.functions.PqArgmin]] loop over it. The round-16 nn QMETRICS
    * protocol measured every other spelling failing at gen-sf100: the
    * original min-join re-joined the |corpus|×m×k distance relation
    * against its own aggregate (a corpus×k sort-merge join — 6.7 GB
    * spill), the min-over-structs aggregate landed in a non-codegen
    * object-hash buffer (5.4 GB sort-fallback spill), and the
    * `array_min(transform(...))` higher-order form was spill-free but
    * interpreted (~2x encode wall). PqArgmin keeps the expression
    * form's shape — |corpus| × m rows in, one long out per row, no
    * intermediate relation — inside whole-stage codegen
    * (records/QMETRICS_nn_sf10sf30sf100_r16.jsonl). */
  private[graft] def pqCodes(e: DataFrame, anchors: Int = 16): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{toColumn, toExpression}
    val cbArr = pqCodebook(e, anchors).groupBy("sub")
      .agg(collect_list(struct(col("cid"), col("cvec"))).as("cands"))
    pqSlices(e, "vec_id", "v")
      .join(broadcast(cbArr), Seq("sub"))
      .select(col("vec_id"), col("sub"),
        toColumn(graft.functions.PqArgmin(
          toExpression(col("v")), toExpression(col("cands")))).as("cid"))
  }

  private val cosSql =
    """ROUND(list_dot_product(e.emb, q.qe) /
      |  (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.qe, q.qe))), 6)""".stripMargin

  def oracles: Map[String, String] = Map(
    "nn11_recall_eval" -> Sql.query(embSql, bucketsSql,
      "q AS (SELECT vec_id AS qid, bucket AS qbucket, emb AS qe FROM buckets WHERE vec_id < 8)",
      """scored AS (
        |  SELECT q.qid, q.qbucket, e.vec_id, e.bucket,
        |         list_dot_product(e.emb, q.qe) /
        |           (sqrt(list_dot_product(e.emb, e.emb)) *
        |            sqrt(list_dot_product(q.qe, q.qe))) AS cos
        |  FROM buckets e, q)""".stripMargin,
      """bf AS (SELECT qid, vec_id FROM (
        |  SELECT qid, vec_id,
        |         ROW_NUMBER() OVER (PARTITION BY qid
        |           ORDER BY cos DESC, vec_id) AS rn
        |  FROM scored) t WHERE rn <= 10)""".stripMargin,
      """lsh AS (SELECT qid, vec_id FROM (
        |  SELECT qid, vec_id,
        |         ROW_NUMBER() OVER (PARTITION BY qid
        |           ORDER BY cos DESC, vec_id) AS rn
        |  FROM scored WHERE bucket = qbucket) t WHERE rn <= 10)""".stripMargin)(
      """SELECT qid, CAST(COUNT(lsh.vec_id) AS BIGINT) AS n_hit,
        |       ROUND(COUNT(lsh.vec_id) / (COUNT(*) * 1.0), 6) AS recall
        |FROM bf LEFT JOIN lsh USING (qid, vec_id)
        |GROUP BY qid ORDER BY qid""".stripMargin),

    "nn12_multiprobe_ann" -> Sql.query(embSql, bucketsSql,
      """probes AS (
        |  SELECT b.vec_id AS qid, b.emb AS qe,
        |         CASE WHEN i = 0 THEN b.bucket
        |              ELSE xor(b.bucket, CAST(2**(i-1) AS INT)) END AS bucket
        |  FROM buckets b, generate_series(0, 8) AS g(i)
        |  WHERE b.vec_id < 4)""".stripMargin,
      """cands AS (
        |  SELECT p.qid, e.vec_id,
        |         list_dot_product(e.emb, p.qe) /
        |           (sqrt(list_dot_product(e.emb, e.emb)) *
        |            sqrt(list_dot_product(p.qe, p.qe))) AS cos
        |  FROM buckets e JOIN probes p ON e.bucket = p.bucket)""".stripMargin)(
      """SELECT qid, vec_id, ROUND(cos, 6) AS cos FROM (
        |  SELECT qid, vec_id, cos,
        |         ROW_NUMBER() OVER (PARTITION BY qid
        |           ORDER BY cos DESC, vec_id) AS rn
        |  FROM cands) t
        |WHERE rn <= 5""".stripMargin),

    "nn1_cosine_topk" -> Sql.query(embSql,
      "q AS (SELECT emb AS qe FROM emb WHERE vec_id = 0)")(
      s"""SELECT e.vec_id, $cosSql AS cos
         |FROM emb e, q
         |ORDER BY list_dot_product(e.emb, q.qe) /
         |  (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.qe, q.qe)))
         |  DESC, e.vec_id
         |LIMIT 10""".stripMargin),

    "nn5_sql_vecdot" -> Sql.query(embSql,
      "q AS (SELECT emb AS qe FROM emb WHERE vec_id = 1)")(
      s"""SELECT e.vec_id, $cosSql AS cos
         |FROM emb e, q
         |ORDER BY list_dot_product(e.emb, q.qe) /
         |  (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.qe, q.qe)))
         |  DESC, e.vec_id
         |LIMIT 10""".stripMargin),

    "nn2_lsh_ann" -> Sql.query(embSql, bucketsSql,
      "q AS (SELECT bucket, emb AS qe FROM buckets WHERE vec_id = 0)")(
      s"""SELECT e.vec_id, $cosSql AS cos
         |FROM buckets e JOIN q ON e.bucket = q.bucket
         |ORDER BY list_dot_product(e.emb, q.qe) /
         |  (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.qe, q.qe)))
         |  DESC, e.vec_id
         |LIMIT 5""".stripMargin),

    "nn4_ivf_ann" -> Sql.query(embSql, centSql,
      "q AS (SELECT emb AS qe FROM emb WHERE vec_id = 0)",
      """probe AS (
        |  SELECT c.label, q.qe
        |  FROM cent c, q
        |  ORDER BY list_dot_product(c.centroid, q.qe) DESC, c.label
        |  LIMIT 1)""".stripMargin)(
      s"""SELECT e.vec_id, $cosSql AS cos
         |FROM emb e JOIN probe q ON e.label = q.label
         |ORDER BY list_dot_product(e.emb, q.qe) /
         |  (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.qe, q.qe)))
         |  DESC, e.vec_id
         |LIMIT 5""".stripMargin),

    // identical to nn4's oracle: the partitioned layout changes WHERE the
    // rows live, provably not WHICH rows score (the point of the gate)
    "nn15_partitioned_ivf_probe" -> Sql.query(embSql, centSql,
      "q AS (SELECT emb AS qe FROM emb WHERE vec_id = 0)",
      """probe AS (
        |  SELECT c.label, q.qe
        |  FROM cent c, q
        |  ORDER BY list_dot_product(c.centroid, q.qe) DESC, c.label
        |  LIMIT 1)""".stripMargin)(
      s"""SELECT e.vec_id, $cosSql AS cos
         |FROM emb e JOIN probe q ON e.label = q.label
         |ORDER BY list_dot_product(e.emb, q.qe) /
         |  (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.qe, q.qe)))
         |  DESC, e.vec_id
         |LIMIT 5""".stripMargin),

    "nn6_batch_topk" -> Sql.query(embSql,
      "q AS (SELECT vec_id AS qid, emb AS qe FROM emb WHERE vec_id < 8)")(
      s"""SELECT qid, vec_id, cos FROM (
         |  SELECT q.qid, e.vec_id, $cosSql AS cos,
         |         ROW_NUMBER() OVER (PARTITION BY q.qid
         |           ORDER BY list_dot_product(e.emb, q.qe) /
         |             (sqrt(list_dot_product(e.emb, e.emb)) *
         |              sqrt(list_dot_product(q.qe, q.qe))) DESC, e.vec_id) AS rn
         |  FROM emb e, q) t
         |WHERE rn <= 3""".stripMargin),

    "nn3_bucket_neardup" -> Sql.query(embSql, bucketsSql)(
      """SELECT a.vec_id AS vec_id, COUNT(*) AS n_neardups
        |FROM buckets a JOIN buckets b ON a.bucket = b.bucket
        |WHERE a.vec_id < b.vec_id
        |  AND list_dot_product(a.emb, b.emb) /
        |      (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)))
        |      > 0.3
        |GROUP BY a.vec_id""".stripMargin),

    "nn7_embed_dedup_filter" -> Sql.query(embSql, bucketsSql,
      """drops AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM buckets a JOIN buckets b ON a.bucket = b.bucket
        |  WHERE a.vec_id < b.vec_id
        |    AND list_dot_product(a.emb, b.emb) /
        |        (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)))
        |        > 0.3)""".stripMargin)(
      """SELECT e.vec_id, e.label FROM emb e
        |WHERE e.vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin),

    "nn9_quantize_int8" -> Sql.query(embSql,
      """ex AS (
        |  SELECT vec_id, i, emb[i] AS x
        |  FROM emb, generate_series(1, 64) AS g(i))""".stripMargin,
      """bounds AS (
        |  SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY i)""".stripMargin,
      """quant AS (
        |  SELECT ex.i,
        |         CAST(CASE WHEN b.mx = b.mn THEN 0
        |              ELSE ROUND((ex.x - b.mn) / (b.mx - b.mn) * 255)
        |              END AS INT) AS q,
        |         ex.x, b.mn, b.mx
        |  FROM ex JOIN bounds b ON ex.i = b.i)""".stripMargin)(
      """SELECT i, MIN(q) AS q_lo, MAX(q) AS q_hi,
        |       ROUND(MAX(abs(x - (mn + q / 255.0 * (mx - mn)))), 6)
        |         AS max_err
        |FROM quant GROUP BY i""".stripMargin),

    "nn8_kmeans_step" -> Sql.query(embSql,
      "seeds AS (SELECT vec_id AS cluster, emb AS se FROM emb WHERE vec_id < 4)",
      """assigned AS (
        |  SELECT vec_id, emb, cluster FROM (
        |    SELECT e.vec_id, e.emb, s.cluster,
        |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |             ORDER BY list_dot_product(e.emb, s.se) /
        |               (sqrt(list_dot_product(e.emb, e.emb)) *
        |                sqrt(list_dot_product(s.se, s.se))) DESC,
        |               s.cluster) AS rn
        |    FROM emb e CROSS JOIN seeds s) t
        |  WHERE rn = 1)""".stripMargin)(
      """SELECT cluster, i, COUNT(*) AS n, ROUND(AVG(emb[i]), 6) AS cx
        |FROM assigned, generate_series(1, 64) AS g(i)
        |GROUP BY cluster, i""".stripMargin),

    // independent formulation: the oracle ranks by RAW inner product —
    // matching rows prove the norm-augmented cosine ordering is exact
    "nn10_mips_topk" -> Sql.query(embSql,
      "q AS (SELECT emb AS qe FROM emb WHERE vec_id = 2)")(
      """SELECT e.vec_id, ROUND(list_dot_product(e.emb, q.qe), 6) AS ip
        |FROM emb e, q
        |ORDER BY list_dot_product(e.emb, q.qe) DESC, e.vec_id
        |LIMIT 10""".stripMargin),

    // PQ replayed relationally: same codebook, same argmin (min distance
    // then min cid), contributions added in fixed column order — every
    // double is bit-identical to the Spark side, so the ADC ranking is
    // deterministic and identical
    "nn13_pq_adc" -> Sql.query((Seq(embSql) ++ pqSql ++ Seq(
      "qsl AS (SELECT vec_id AS qid, sub, v AS qv FROM sl WHERE vec_id < 4)",
      """contrib AS (
        |  SELECT q.qid, k.vec_id, k.sub,
        |         list_dot_product(q.qv, q.qv) - 2*list_dot_product(q.qv, c.cvec)
        |           + list_dot_product(c.cvec, c.cvec) AS d2
        |  FROM code k
        |  JOIN cb c ON k.cid = c.cid AND k.sub = c.sub
        |  JOIN qsl q ON q.sub = k.sub)""".stripMargin,
      """adcs AS (
        |  SELECT qid, vec_id,
        |         MAX(CASE WHEN sub = 0 THEN d2 END)
        |           + MAX(CASE WHEN sub = 1 THEN d2 END)
        |           + MAX(CASE WHEN sub = 2 THEN d2 END)
        |           + MAX(CASE WHEN sub = 3 THEN d2 END) AS adc
        |  FROM contrib GROUP BY 1, 2)""".stripMargin)): _*)(
      """SELECT qid, vec_id, ROUND(adc, 6) AS adc FROM (
        |  SELECT qid, vec_id, adc,
        |         ROW_NUMBER() OVER (PARTITION BY qid
        |           ORDER BY adc, vec_id) AS rn
        |  FROM adcs) t
        |WHERE rn <= 10""".stripMargin),

    // IVF-PQ: the coarse probe (cosine argmax over the 6-decimal-pinned
    // centroids) and the code-only ADC rescoring, replayed relationally
    "nn14_ivfpq_ann" -> Sql.query((Seq(embSql, centSql) ++ pqSql ++ Seq(
      "q AS (SELECT emb AS qe FROM emb WHERE vec_id = 1)",
      """probe AS (
        |  SELECT label FROM cent, q
        |  ORDER BY list_dot_product(centroid, qe) /
        |    (sqrt(list_dot_product(centroid, centroid)) *
        |     sqrt(list_dot_product(qe, qe))) DESC, label
        |  LIMIT 1)""".stripMargin,
      "cands AS (SELECT e.vec_id FROM emb e JOIN probe p ON e.label = p.label)",
      "qsl AS (SELECT sub, v AS qv FROM sl WHERE vec_id = 1)",
      """contrib AS (
        |  SELECT k.vec_id, k.sub,
        |         list_dot_product(q.qv, q.qv) - 2*list_dot_product(q.qv, c.cvec)
        |           + list_dot_product(c.cvec, c.cvec) AS d2
        |  FROM code k
        |  JOIN cands x ON k.vec_id = x.vec_id
        |  JOIN cb c ON k.cid = c.cid AND k.sub = c.sub
        |  JOIN qsl q ON q.sub = k.sub)""".stripMargin,
      """adcs AS (
        |  SELECT vec_id,
        |         MAX(CASE WHEN sub = 0 THEN d2 END)
        |           + MAX(CASE WHEN sub = 1 THEN d2 END)
        |           + MAX(CASE WHEN sub = 2 THEN d2 END)
        |           + MAX(CASE WHEN sub = 3 THEN d2 END) AS adc
        |  FROM contrib GROUP BY 1)""".stripMargin)): _*)(
      """SELECT vec_id, ROUND(adc, 6) AS adc FROM (
        |  SELECT vec_id, adc,
        |         ROW_NUMBER() OVER (ORDER BY adc, vec_id) AS rn
        |  FROM adcs) t
        |WHERE rn <= 5""".stripMargin)
  )

  /** Shared PQ relational core (codebook, slices, assignment, codes) —
    * the oracle-side mirror of [[pqCodebook]]/[[pqSlices]]/[[pqCodes]]. */
  private val pqSql: Seq[String] = Seq(
    """cb AS (
      |  SELECT vec_id AS cid, j AS sub, emb[j*16+1 : j*16+16] AS cvec
      |  FROM emb, generate_series(0, 3) g(j) WHERE vec_id < 16)""".stripMargin,
    """sl AS (
      |  SELECT vec_id, j AS sub, emb[j*16+1 : j*16+16] AS v
      |  FROM emb, generate_series(0, 3) g(j))""".stripMargin,
    """asg AS (
      |  SELECT s.vec_id, s.sub, c.cid,
      |         list_dot_product(s.v, s.v) - 2*list_dot_product(s.v, c.cvec)
      |           + list_dot_product(c.cvec, c.cvec) AS d2
      |  FROM sl s JOIN cb c ON s.sub = c.sub)""".stripMargin,
    """code AS (
      |  SELECT a.vec_id, a.sub, MIN(a.cid) AS cid
      |  FROM asg a
      |  JOIN (SELECT vec_id, sub, MIN(d2) AS md FROM asg GROUP BY 1, 2) m
      |    ON a.vec_id = m.vec_id AND a.sub = m.sub AND a.d2 = m.md
      |  GROUP BY 1, 2)""".stripMargin)
}
