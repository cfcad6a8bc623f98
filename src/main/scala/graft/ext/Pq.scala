package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory-compression ANN path.
  *
  * IVF ([[IvfIndex]]) prunes WHICH vectors a probe compares against;
  * PQ compresses WHAT is stored per vector: the D-dim vector is split
  * into M subspaces of D/M dims, each subspace gets its own K-centroid
  * codebook, and a vector is stored as M small codes (here 8 bytes vs
  * 64 floats — 32× compression). Serving is ADC (asymmetric distance
  * computation): the probe stays uncompressed, a per-probe table of
  * probe-subvector→centroid distances is built once (M·K entries),
  * and the approximate distance to ANY stored vector is M lookups
  * summed — no per-pair D-dim math. At 100 TB the codes for a billion
  * vectors fit in executor memory where raw vectors cannot, which is
  * the entire reason the method exists; production recall is
  * recovered by exact re-rank of the ADC top-C shortlist (PqSpec pins
  * both the no-re-rank recall floor and the shortlist recovery).
  *
  * Cross-engine exact by the [[Lloyd]] construction: vectors are
  * integer-quantized (`floor(double·10⁴)`), codebooks are INTEGER
  * centroids fit by the Lloyd loop per subspace (pinned offline
  * artifact [[PqModel]], regenerated by `graft.DevFitPq`), so encode
  * (integer argmin, tie to smaller code) and ADC (integer sums of
  * squares) are pure integer functions of the data — DuckDB replays
  * them bit-exactly and `sim10_pq_adc_topk` hash-verifies the full
  * encode → LUT → ADC → rank pipeline.
  *
  * Shape note: everything is RELATIONAL — the codebook is a
  * broadcast (m, j, cent) table, encode is a broadcast join + one
  * map-side-combinable argmin aggregation, and the ADC scan joins
  * stored (m, code) rows against the broadcast per-probe LUT. An
  * earlier formulation inlined all M·K centroids as expression-tree
  * literals; at K=256 that is a ~100k-node Catalyst tree and
  * PLANNING dominated end-to-end time (26 s at sf0.001 vs ~1 s
  * relational, identical results). Literal-heavy codegen is the
  * right call at IVF scale (16 cells); at PQ scale the data plane
  * is where the model belongs.
  */
object Pq {

  /** Squared integer distance between two equal-length long arrays —
    * the native codegen'd expression ([[graft.functions.LongVecL2Sq]]).
    * This is the encode hot loop (N·M·K evaluations per corpus pass);
    * the interpreted `aggregate(zip_with(...))` formulation cost
    * sim10 6.3 s at sf0.1, the native one ~5× less.
    */
  private[graft] def l2(a: Column, b: Column): Column =
    call_function("vec_l2sq_ll", a, b)

  /** Codebook as a (m, j, cent array<long>) frame — M·K rows, always
    * broadcast-joined.
    */
  def codebookDf(spark: SparkSession,
      codebooks: Seq[Seq[Seq[Long]]]): DataFrame = {
    import spark.implicits._
    val rows = for {
      (cb, m) <- codebooks.zipWithIndex
      (cent, j) <- cb.zipWithIndex
    } yield (m, j, cent)
    rows.toDF("m", "j", "cent")
  }

  /** One row per (vector, subspace): the subDim-slice of `qv`. */
  def subvectors(df: DataFrame, numSubspaces: Int, subDim: Int): DataFrame = {
    val subs = array((0 until numSubspaces).map { mi =>
      struct(lit(mi).as("m"), slice(col("qv"), mi * subDim + 1, subDim).as("sub"))
    }: _*)
    df.select(col("*"), explode(subs).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sub").as("sub"))
  }

  /** PQ codes, one row per (vec_id, m): the native encoder
    * ([[graft.functions.PqCodes]]) computes all M argmin codes of a
    * vector in one tight integer loop against the plan-resident flat
    * codebook, and posexplode fans the M-array to rows — identical
    * rows/types to the round-15 relational form (explode →
    * broadcast-join the M·K codebook → N·M·K distance JOIN ROWS →
    * partial-min aggregate), which materialized 41 M rows at sf0.1
    * through a hash aggregate and an exchange just to throw away
    * everything but the argmin. Ties to the smaller code both ways
    * (strict `<` in the loop ≡ `min(struct(ds, j))`); PqCodesSpec
    * pins the identity. Encode is now map-side work of whatever
    * consumes it — no exchange of its own at any scale (round-16,
    * guide §4/§1.2; sim10's encode phase measured 1.05 → ~0.1 s).
    */
  def encode(corpus: DataFrame, codebooks: Seq[Seq[Seq[Long]]],
      subDim: Int): DataFrame = {
    val flat = codebooks.flatten.flatten.toArray
    val k = codebooks.head.length
    corpus.select(col("vec_id"),
        posexplode(call_function("pq_codes_ll", col("qv"),
          lit(flat), lit(k), lit(subDim))).as(Seq("m", "code")))
  }

  /** Per-probe ADC lookup table, one row per (probe_id, m, j): the
    * integer distance from the probe's m-th subvector to centroid j.
    * M·K rows per probe — the once-per-probe work ADC exists for.
    */
  def probeLut(probes: DataFrame, codebooks: Seq[Seq[Seq[Long]]],
      subDim: Int): DataFrame = {
    val cb = codebookDf(probes.sparkSession, codebooks)
    subvectors(probes.withColumnRenamed("probe_id", "vec_id")
        .withColumnRenamed("probe_qv", "qv"), codebooks.length, subDim)
      .join(broadcast(cb), Seq("m"))
      .select(col("vec_id").as("probe_id"), col("m"), col("j"),
        l2(col("sub"), col("cent")).as("ds"))
  }

  /** Encode the corpus, broadcast the per-probe LUT, ADC-rank: each
    * stored (vec, m, code) row picks up its probe-LUT entry on the
    * (m, j=code) key, the M per-subspace distances sum per
    * (probe, vec), and top-k ranks by ascending ADC distance with
    * ties to the smaller vec_id. Output
    * (probe_id, vec_id, adc_dist, rk) — all integers, hash-exact.
    */
  def topK(corpus: DataFrame, probes: DataFrame,
      codebooks: Seq[Seq[Seq[Long]]], subDim: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val enc = encode(corpus, codebooks, subDim)
    val lut = probeLut(probes, codebooks, subDim)
    val scored = enc
      .join(broadcast(lut),
        enc("m") === lut("m") && enc("code") === lut("j") &&
          col("vec_id") =!= col("probe_id"))
      .groupBy("probe_id", "vec_id")
      .agg(sum("ds").as("adc_dist"))
    val w = Window.partitionBy("probe_id").orderBy(col("adc_dist"), col("vec_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("probe_id", "vec_id", "adc_dist", "rk")
  }

  /** Exact integer-L2 top-k over quantized vectors — the baseline the
    * PQ approximation targets (same metric space the codebooks live
    * in). Used by PqSpec's recall floor and the stress-tier PQ recall
    * gate; bounded probe set broadcast, ties to the smaller vec_id
    * like [[topK]].
    */
  def exactL2TopK(qdf: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("probe_id").orderBy(col("dist"), col("vec_id"))
    qdf.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("dist", l2(col("qv"), col("probe_qv")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("probe_id", "vec_id")
  }

  /** DuckDB mirrors of the same integer pipeline. */
  object Sql {

    /** Codebook literal table `cb(m, j, sd, c)` — one row per
      * (subspace, code, sub-dim) long component.
      */
    def cbValues(codebooks: Seq[Seq[Seq[Long]]]): String = {
      val rows = for {
        (cb, m) <- codebooks.zipWithIndex
        (cent, j) <- cb.zipWithIndex
        (c, sd) <- cent.zipWithIndex
      } yield s"($m,$j,$sd,$c)"
      s"cb(m, j, sd, c) AS (VALUES ${rows.mkString(",")})"
    }

    /** Shared CTE prefix: quantized vectors, per-dim rows tagged with
      * (subspace m, sub-dim sd), codebook literals, and the all-pairs
      * (vector, subspace, code) integer distance table `dist` that
      * both encode (argmin) and the probe LUT read from.
      */
    def base(codebooks: Seq[Seq[Seq[Long]]], dim: Int, subDim: Int): String =
      s"""q AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
         |  x -> CAST(floor(x * ${Lloyd.Scale}.0) AS BIGINT)) AS qv FROM embeddings),
         |dims AS (SELECT unnest(range(1, ${dim + 1})) AS d),
         |qd AS (SELECT vec_id, qv[d] AS v,
         |  CAST((d - 1) // $subDim AS INT) AS m,
         |  CAST((d - 1) % $subDim AS INT) AS sd FROM q, dims),
         |${cbValues(codebooks)},
         |dist AS (SELECT qd.vec_id, qd.m, cb.j,
         |    sum((qd.v - cb.c) * (qd.v - cb.c)) AS ds
         |  FROM qd JOIN cb ON qd.m = cb.m AND qd.sd = cb.sd
         |  GROUP BY 1, 2, 3),
         |enc AS (SELECT vec_id, m, j AS code FROM (
         |  SELECT vec_id, m, j,
         |    row_number() OVER (PARTITION BY vec_id, m ORDER BY ds, j) AS rk
         |  FROM dist) WHERE rk = 1)""".stripMargin
  }
}
