package graft.ext

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * All vector math is built from the higher-order functions `zip_with` /
  * `aggregate` — pure Catalyst expressions, no UDFs, codegen-friendly
  * (SURVEY §7.3). Elements are cast float→double (exact) before
  * multiplication so both engines compute identical IEEE sequences; the
  * DuckDB oracle mirrors the same op order
  * (`list_dot_product` + `sqrt(..)*sqrt(..)`).
  *
  * Scale design (100 TB):
  *  - Brute-force top-k broadcasts the (small, bounded) PROBE set and
  *    streams the big vector table — one pass, no shuffle of the
  *    corpus. Correctness baseline and still the right plan when the
  *    probe set is tiny.
  *  - All-pairs similarity is never materialized; the near-dup scale
  *    path is banded random-hyperplane LSH: L independent tables of
  *    `nbits` sign-bits each, explode to (table, bucket) keys, shuffle
  *    ONCE on the bucket key, and only compare within buckets. Bucket
  *    sizes concentrate near corpus/2^nbits, so the quadratic blowup is
  *    confined to buckets; skewed buckets are handled by AQE skew-join
  *    splitting.
  */
object Similarity {

  /** Dot product of two float-array columns in double precision —
    * sequential left-to-right sum, matching DuckDB `list_dot_product`.
    * Dispatches to the native codegen'd [[graft.functions.VecDot]]
    * (registered by GraftExtensions; bit-identical to the built-ins-only
    * `zip_with` + `aggregate` reference FloatVecDotSpec checks it against,
    * ~an order of magnitude faster since higher-order functions are
    * interpreted per-element).
    */
  def dot(a: Column, b: Column): Column = call_function("vec_dot_f", a, b)

  /** Dot product of a float-vector column with a double-array plan
    * literal (LSH planes, IVF centroids) — the native codegen'd
    * [[graft.functions.VecDot]] as `vec_dot_fd`. vec_dot_f's strict
    * float×float signature can't take double literals, and the HOF
    * fallback ran interpreted on the map-side hot path (round-2
    * verdict item 5).
    */
  def dotLit(vec: Column, constants: Array[Double]): Column =
    call_function("vec_dot_fd", vec, array(constants.toIndexedSeq.map(lit(_)): _*))

  /** Dot product of two `array<double>` columns — the native
    * codegen'd [[graft.functions.VecDot]] as `vec_dot_d`, for math over
    * already-normalized (double) vectors. Bit-identical to the HOF
    * reference on the same inputs (FloatVecDotSpec).
    */
  def dotD(a: Column, b: Column): Column = call_function("vec_dot_d", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity: dot / (norm(a) * norm(b)) — op order pinned for
    * oracle parity (NOT sqrt(n2a*n2b), which differs in the last ulp).
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** L2-normalize a float-vector column into `array<double>` — the
    * embedding-prep transform (on normalized vectors cosine degenerates
    * to a plain dot product, so a pre-normalized corpus halves every
    * downstream re-rank's arithmetic and storage-side norm lookups).
    */
  def l2Normalize(a: Column): Column = call_function("vec_l2norm", a)

  /** Brute-force cosine top-k: for each probe row, the k nearest
    * vectors from `corpus`. The probe side is explicitly broadcast —
    * bounded-small by construction (it is the user's query set), unlike
    * the corpus, which streams map-side with no shuffle. Ranking is on
    * the 6-dp-rounded score with an id tie-break so ordering is
    * deterministic across engines and runs.
    */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      probeIdCol: String = "probe_id", probeVecCol: String = "probe_vec"): DataFrame = {
    val scored = corpus
      .join(broadcast(probes), col(idCol) =!= col(probeIdCol))
      .withColumn("cos", round(cosine(col(probeVecCol), col(vecCol)), 6))
    rankTopK(scored, k, probeIdCol, idCol)
  }

  /** The shared top-k re-rank contract (brute-force, LSH, and IVF all
    * emit it): rank per probe on the 6-dp-rounded score with an id
    * tie-break, keep k, project (probe, id, cos, rk). `rk` cast to
    * long: DuckDB `row_number()` is BIGINT and the oracle hash-compare
    * is schema-sensitive. Spark plans the window as
    * WindowGroupLimit partial/final — map-side top-k, no skew funnel.
    */
  def rankTopK(scored: DataFrame, k: Int,
      probeIdCol: String = "probe_id", idCol: String = "vec_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(probeIdCol).orderBy(col("cos").desc, col(idCol))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col(probeIdCol), col(idCol), col("cos"), col("rk"))
  }

  // ---------------------------------------------------------------- LSH

  /** Deterministic Gaussian hyperplanes: `tables` independent LSH
    * tables, each `nbits` planes of dimension `dim`. Seeded — plan
    * constants, identical on every run/executor.
    */
  def hyperplanes(dim: Int, nbits: Int, tables: Int, seed: Long = 42L): Seq[Seq[Array[Double]]] = {
    val rnd = new Random(seed)
    Seq.fill(tables)(Seq.fill(nbits)(Array.fill(dim)(rnd.nextGaussian())))
  }

  /** LSH bank descriptor. The queries hand this to [[lshIndex]] /
    * [[lshCandidatePairs]], which dispatch to the native `lsh_buckets`
    * expression carrying the plane matrix as ONE reference object; the
    * materialized [[planes]] exist for the SQL mirrors ([[Sql]]) and
    * the composed-form parity spec. Embedding the planes as per-plane
    * array LITERALS (the old [[bucketId]] composition) put
    * tables×nbits×dim doubles into the plan per call site — analysis +
    * codegen of that constant forest dominated the LSH queries' wall
    * time at bench scale.
    */
  final case class PlaneSpec(dim: Int, nbits: Int, tables: Int, seed: Long = 42L) {
    lazy val planes: Seq[Seq[Array[Double]]] = hyperplanes(dim, nbits, tables, seed)
  }

  /** All `tables` bucket ids of `vec` as one `array<long>` — the
    * native fused pass ([[graft.functions.LshBuckets]]).
    */
  def lshBuckets(vec: Column, spec: PlaneSpec): Column =
    call_function("lsh_buckets", vec,
      lit(spec.dim), lit(spec.nbits), lit(spec.tables), lit(spec.seed))

  /** Sign-bit bucket id of `vec` for one table's planes:
    * bit_j = (vec · plane_j >= 0), bucket = Σ bit_j << j.
    * The built-ins-composed reference formulation — kept as the
    * semantic contract [[graft.functions.LshBuckets]] is spec-checked
    * against (SimilaritySpec), not used on the query path.
    */
  def bucketId(vec: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, j) =>
      when(dotLit(vec, plane) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Explode each row into `tables` (table_id, bucket) keys — the
    * banded-LSH index. Rows sharing a (table_id, bucket) key in ANY
    * table become candidate pairs; one shuffle on the composite key.
    */
  def lshIndex(df: DataFrame, vecCol: String, spec: PlaneSpec): DataFrame =
    df.select(col("*"),
        posexplode(lshBuckets(col(vecCol), spec)).as(Seq("table_id", "bucket")))

  /** Candidate pairs (a < b) that share at least one LSH bucket —
    * distinct'd so multi-table collisions emit once. This is the
    * sub-quadratic near-dup path: compare-within-bucket, never
    * all-pairs.
    *
    * Capacity law (same shape as SimhashWide's band-width law): random
    * pairs collide per table w.p. ~2^-nbits, so background candidates
    * ≈ tables · n² / 2^(nbits+1) — at FIXED nbits that grows
    * quadratically with the corpus. Size `nbits ≈ log2(n / B)` for a
    * target mean bucket size B (≈ 10²-10³); tables then buys recall at
    * the chosen threshold. 16 k vectors at nbits=8 already pay ~10⁷
    * background re-checks (measured, DevStress); 10¹⁰ vectors want
    * nbits ≈ 24, not more tables.
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, vecCol: String,
      spec: PlaneSpec): DataFrame = {
    val idx = lshIndex(df, vecCol, spec).select(col(idCol), col("table_id"), col("bucket"))
    val a = idx.select(col(idCol).as("a_id"), col("table_id"), col("bucket"))
    val b = idx.select(col(idCol).as("b_id"), col("table_id"), col("bucket"))
    a.join(b, Seq("table_id", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
  }

  /** Exact all-pairs generation via block-pair bucketing — the honest
    * distributed shape when the similarity threshold sits near the
    * random-pair background and candidate pruning CANNOT beat ~all
    * pairs (measured: recall-1.0 LSH at cos>0.45 collided 99% of pairs
    * and its 80-way explode+distinct cost 200+ s at 8 k vectors).
    *
    * Every vector is hashed to one of `blocks` blocks and replicated
    * `blocks` times — side A to keys (myBlock, j), side B to keys
    * (i, myBlock) — so each ordered pair meets at exactly ONE
    * (i, j) key: a plain hash-shuffled equi-join with no duplicate
    * matches, no distinct, no nested-loop node, and uniform load
    * (hash blocks). Shuffle volume is `2·blocks·n` vector rows; the
    * n²/2 comparisons happen inside the join iterator, never
    * materialized. Pick `blocks` ≈ n / rowsPerBlock so a block-pair's
    * buffered side fits in memory and task count ≈ blocks².
    *
    * Use [[lshCandidatePairs]] instead when the threshold is high
    * enough (≳0.7) for banding to actually prune.
    */
  def blockedAllPairs(df: DataFrame, idCol: String, vecCol: String,
      blocks: Int): DataFrame = {
    // norms ride along from BEFORE replication: computed once per
    // vector, not once per pair (cosine re-deriving both norms per
    // pair tripled the dominant per-pair flops)
    val aSide = df.select(col(idCol).as("a_id"), col(vecCol).as("va"),
        norm(col(vecCol)).as("na"))
      .withColumn("__ba", pmod(hash(col("a_id")), lit(blocks)))
      .withColumn("__bb", explode(sequence(lit(0), lit(blocks - 1))))
    val bSide = df.select(col(idCol).as("b_id"), col(vecCol).as("vb"),
        norm(col(vecCol)).as("nb"))
      .withColumn("__bb", pmod(hash(col("b_id")), lit(blocks)))
      .withColumn("__ba", explode(sequence(lit(0), lit(blocks - 1))))
    aSide.join(bSide, Seq("__ba", "__bb"))
      .filter(col("a_id") < col("b_id"))
      .drop("__ba", "__bb")
  }

  /** Dense exact all-pairs cosine over block pairs — the measured end
    * of the escalation ladder for near-background thresholds. The
    * equi-join formulation above is already shuffle-correct, but it
    * materializes every candidate pair as a join output row (two
    * 64-float arrays per row — row forming, not arithmetic, dominated
    * at 33 s for 32 M pairs). This version gathers each block ONCE
    * (`collect_list`), joins the B(B+1)/2 block-pair rows, and runs
    * the quadratic loop over primitive arrays inside a typed flatMap —
    * emitting ONLY pairs at/above `rawThreshold`. 8 k vectors: 204 s
    * (LSH+distinct) → 34 s (pair equi-join) → ~2 s (this).
    *
    * Arithmetic is pinned to the engine contract: sequential
    * float→double products ([[dot]]/vec_dot_f order), `cos = dot /
    * (sqrt(na²)·sqrt(nb²))` — bit-identical to the Column formulation,
    * so callers can round/filter in DataFrame land and stay
    * oracle-exact. Emit uses `rawThreshold` minus a 1e-7 guard so the
    * exact rounded filter downstream makes the final call.
    *
    * Scale contract: exact all-pairs is for BOUNDED corpora (eval
    * sets, per-shard dedup, n ≲ 10⁶ — block rows stay ≤ tens of MB
    * with blocks ≈ n/10⁴). Unbounded corpora must accept approximate
    * candidates ([[lshCandidatePairs]]) or a prunable threshold.
    */
  def exactCosinePairsBlocked(df: DataFrame, idCol: String, vecCol: String,
      rawThreshold: Double, blocks: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val b = blocks
    val blocksDs = df
      .select(pmod(hash(col(idCol)), lit(b)).as("_1"),
        struct(col(idCol).as("_1"), col(vecCol).as("_2")).as("__v"))
      .groupBy("_1").agg(collect_list(col("__v")).as("_2"))
      .as[(Int, Array[(Long, Array[Float])])]
    // block p replicates to keys (p,q>=p) on side A and (q<=p, p) on B
    val aKeyed = blocksDs.flatMap { case (p, vecs) =>
      (p until b).iterator.map(q => (p * b + q, vecs)) }
    val bKeyed = blocksDs.flatMap { case (p, vecs) =>
      (0 to p).iterator.map(q => (q * b + p, vecs)) }
    val guard = rawThreshold - 1e-7
    aKeyed.joinWith(bKeyed, aKeyed("_1") === bKeyed("_1"))
      .flatMap { case ((key, va), (_, vb)) =>
        val same = key / b == key % b
        def prep(vs: Array[(Long, Array[Float])]) = {
          val norms = vs.map { case (_, v) =>
            var s = 0.0; var i = 0
            while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
            math.sqrt(s)
          }
          (vs.map(_._1), vs.map(_._2), norms)
        }
        val (aIds, aVecs, aNorms) = prep(va)
        val (bIds, bVecs, bNorms) = if (same) (aIds, aVecs, aNorms) else prep(vb)
        val out = Vector.newBuilder[(Long, Long, Double)]
        var i = 0
        while (i < aIds.length) {
          var j = if (same) i + 1 else 0
          while (j < bIds.length) {
            val x = aVecs(i); val y = bVecs(j)
            var s = 0.0; var k = 0
            while (k < x.length) { s += x(k).toDouble * y(k).toDouble; k += 1 }
            val cos = s / (aNorms(i) * bNorms(j))
            if (cos >= guard) {
              val (lo, hi) =
                if (aIds(i) < bIds(j)) (aIds(i), bIds(j)) else (bIds(j), aIds(i))
              out += ((lo, hi, cos))
            }
            j += 1
          }
          i += 1
        }
        out.result()
      }
      .toDF("a_id", "b_id", "cos_raw")
  }

  // ------------------------------------------------- DuckDB SQL mirrors

  /** DuckDB mirrors generated from the SAME seeded plane constants as
    * the Spark plans (the [[graft.ext.NearDup.Sql.minhashCols]] trick),
    * so LSH queries are hash-verified, not rows-only. Scala's
    * `Double.toString` is the shortest representation that round-trips,
    * DuckDB's parser recovers the identical IEEE double, and
    * `list_dot_product` over DOUBLE[] sums left-to-right exactly like
    * vec_dot_fd — so every sign decision, and therefore every bucket id,
    * matches bit-for-bit across engines.
    */
  object Sql {
    /** Mirror of [[bucketId]]: sign-bit bucket of `vecExpr` (a DOUBLE[]
      * SQL expression) for one table's planes.
      */
    def bucketSql(vecExpr: String, planes: Seq[Array[Double]]): String =
      planes.zipWithIndex.map { case (plane, j) =>
        val lits = plane.mkString("[", ",", "]")
        s"(CASE WHEN list_dot_product($vecExpr, $lits::DOUBLE[]) >= 0 " +
          s"THEN ${1L << j}::BIGINT ELSE 0::BIGINT END)"
      }.mkString("(", " + ", ")")

    /** `b0 .. b(T-1)` bucket columns, one per LSH table. */
    def bucketCols(vecExpr: String, planes: Seq[Seq[Array[Double]]]): String =
      planes.zipWithIndex.map { case (tablePlanes, t) =>
        s"${bucketSql(vecExpr, tablePlanes)} AS b$t"
      }.mkString(", ")

    /** Bucket-equality predicate between aliases `a` and `b`: collide
      * in at least one table (mirror of the candidate join).
      */
    def anyBucketEq(a: String, b: String, tables: Int): String =
      (0 until tables).map(t => s"$a.b$t = $b.b$t").mkString(" OR ")
  }
}
