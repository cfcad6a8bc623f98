package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** The graft native-function registry, shared by the extension class
  * (fresh sessions) and [[ensureRegistered]] (sessions that already
  * existed when `getOrCreate()` ran — builder configs, including
  * `spark.sql.extensions`, are silently ignored for those).
  */
object GraftFunctions {

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    VecDot.signatures.map { case (l, r) =>
      val name = VecDot.name(l, r)
      (
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[VecDot].getName, name),
        (children: Seq[Expression]) => {
          require(children.length == 2, s"$name expects exactly 2 arguments")
          VecDot(children.head, children(1), l, r)
        })
    } ++ Seq(
    (
      new FunctionIdentifier("vec_l2sq_ll"),
      new ExpressionInfo(classOf[LongVecL2Sq].getName, "vec_l2sq_ll"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "vec_l2sq_ll expects exactly 2 arguments")
        LongVecL2Sq(children.head, children(1))
      }),
    (
      new FunctionIdentifier("vec_l2norm"),
      new ExpressionInfo(classOf[VecL2Norm].getName, "vec_l2norm"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "vec_l2norm expects exactly 1 argument")
        VecL2Norm(children.head)
      }),
    (
      new FunctionIdentifier("sq8_pack"),
      new ExpressionInfo(classOf[Sq8Pack].getName, "sq8_pack"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "sq8_pack expects exactly 1 argument")
        Sq8Pack(children.head)
      }),
    (
      new FunctionIdentifier("vec_dot_sq8"),
      new ExpressionInfo(classOf[Sq8Dot].getName, "vec_dot_sq8"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "vec_dot_sq8 expects exactly 2 arguments")
        Sq8Dot(children.head, children(1))
      }),
    (
      new FunctionIdentifier("lsh_buckets"),
      new ExpressionInfo(classOf[LshBuckets].getName, "lsh_buckets"),
      (children: Seq[Expression]) => {
        require(children.length == 5,
          "lsh_buckets expects (vec, dim, nbits, tables, seed)")
        def intLit(e: Expression, what: String): Int = e match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"lsh_buckets $what argument must be an integer literal, got $other")
        }
        val dim = intLit(children(1), "dim")
        val nbits = intLit(children(2), "nbits")
        val tables = intLit(children(3), "tables")
        val seed = children(4) match {
          case Literal(v: Long, _) => v
          case Literal(v: Int, _) => v.toLong
          case other => throw new IllegalArgumentException(
            s"lsh_buckets seed argument must be an integer literal, got $other")
        }
        // the SAME seeded generator the SQL mirrors materialize planes
        // from — bucket ids stay bit-identical across engines
        val planes = graft.ext.Similarity.hyperplanes(dim, nbits, tables, seed)
          .flatMap(_.flatMap(_.toSeq)).toArray
        LshBuckets(children.head, planes, tables, nbits, dim)
      }),
    (
      new FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "poly_hash expects exactly 1 argument")
        PolyHash(children.head, graft.ext.NearDup.Seed, graft.ext.NearDup.P)
      }),
    (
      new FunctionIdentifier("vec_sum_ll"),
      new ExpressionInfo(classOf[VecSumAgg].getName, "vec_sum_ll"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "vec_sum_ll expects exactly 1 argument")
        // an AggregateFunction builder: the analyzer wraps it in an
        // AggregateExpression at resolution, like the built-in sum
        VecSumAgg(children.head)
      }),
    (
      new FunctionIdentifier("vec_outer_sum_ll"),
      new ExpressionInfo(classOf[VecOuterSumAgg].getName, "vec_outer_sum_ll"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "vec_outer_sum_ll expects exactly 1 argument")
        VecOuterSumAgg(children.head)
      }),
    (
      new FunctionIdentifier("topk_ll"),
      new ExpressionInfo(classOf[TopKAgg].getName, "topk_ll"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "topk_ll expects exactly 3 arguments (value, id, k)")
        TopKAgg(children(0), children(1), children(2))
      }),
    (
      new FunctionIdentifier("freq_ll"),
      new ExpressionInfo(classOf[FreqAgg].getName, "freq_ll"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "freq_ll expects exactly 2 arguments (item, k)")
        FreqAgg(children(0), children(1))
      }),
    (
      new FunctionIdentifier("tri_credits"),
      new ExpressionInfo(classOf[TriCredits].getName, "tri_credits"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "tri_credits expects (x, y, adj_x, adj_y)")
        TriCredits(children(0), children(1), children(2), children(3))
      }),
    (
      new FunctionIdentifier("adjacent_pairs"),
      new ExpressionInfo(classOf[AdjacentPairs].getName, "adjacent_pairs"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "adjacent_pairs expects exactly 1 argument")
        AdjacentPairs(children.head)
      }),
    (
      new FunctionIdentifier("pq_codes_ll"),
      new ExpressionInfo(classOf[PqCodes].getName, "pq_codes_ll"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "pq_codes_ll expects (qv, flat_codebook, k, subdim)")
        require(children(1).foldable && children(2).foldable &&
          children(3).foldable,
          "pq_codes_ll codebook/k/subdim must be foldable literals")
        val cb = children(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toLongArray()
        val k = children(2).eval().asInstanceOf[Int]
        val sd = children(3).eval().asInstanceOf[Int]
        PqCodes(children.head, cb, k, sd)
      }),
    (
      new FunctionIdentifier("jaccard_sorted"),
      new ExpressionInfo(classOf[JaccardSorted].getName, "jaccard_sorted"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "jaccard_sorted expects exactly 2 arguments")
        JaccardSorted(children.head, children(1))
      }),
    (
      new FunctionIdentifier("token_freqs"),
      new ExpressionInfo(classOf[TokenFreqs].getName, "token_freqs"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "token_freqs expects (tokens, words)")
        require(children(1).foldable,
          "token_freqs words argument must be a foldable array literal")
        val arr = children(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val words = (0 until arr.numElements())
          .map(i => arr.getUTF8String(i).toString).toArray
        TokenFreqs(children.head, words)
      }),
    (
      new FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinhashSigs].getName, "minhash_sigs"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "minhash_sigs expects (hashes, k)")
        val k = children(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"minhash_sigs k argument must be an integer literal, got $other")
        }
        val params = graft.ext.NearDup.minhashParams(k)
        MinhashSigs(children.head,
          params.map(_._1).toArray, params.map(_._2).toArray, graft.ext.NearDup.P)
      }),
    (
      new FunctionIdentifier("shingle_hash_set"),
      new ExpressionInfo(classOf[ShingleHashSet].getName, "shingle_hash_set"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "shingle_hash_set expects (tokens, k)")
        val k = children(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"shingle_hash_set k argument must be an integer literal, got $other")
        }
        ShingleHashSet(children.head, k, graft.ext.NearDup.Seed, graft.ext.NearDup.P)
      }),
    (
      new FunctionIdentifier("simhash_wide"),
      new ExpressionInfo(classOf[SimhashWide].getName, "simhash_wide"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "simhash_wide expects (hashes)")
        val params = graft.ext.NearDup.simhashRehashParams
        SimhashWide(children.head,
          params.map(_._1).toArray, params.map(_._2).toArray,
          bitsPer = 30, graft.ext.NearDup.P)
      }),
    (
      new FunctionIdentifier("simhash_bits"),
      new ExpressionInfo(classOf[SimhashBits].getName, "simhash_bits"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "simhash_bits expects (array, bits)")
        val bits = children(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"simhash_bits bits argument must be an integer literal, got $other")
        }
        SimhashBits(children.head, bits)
      }),
  )

  /** Register every graft function on `s` if absent. Needed because
    * `SparkSession.builder.getOrCreate()` ignores `spark.sql.extensions`
    * when a session already exists in the JVM — without this, a caller
    * that built any other session first would get undefined-function
    * errors from every similarity/dedup query.
    */
  def ensureRegistered(s: SparkSession): Unit = {
    all.foreach { case (ident, info, builder) =>
      if (!s.sessionState.functionRegistry.functionExists(ident))
        s.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
    // planner strategy for the native as-of join: extraStrategies is
    // the pre-existing-session path (injectPlannerStrategy, like every
    // builder config, is silently ignored after getOrCreate)
    val cs = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(graft.plans.AsofJoinStrategy))
      cs.experimental.extraStrategies =
        cs.experimental.extraStrategies :+ graft.plans.AsofJoinStrategy
    if (!cs.experimental.extraOptimizations.contains(graft.plans.AsofJoinPruning))
      cs.experimental.extraOptimizations =
        cs.experimental.extraOptimizations :+ graft.plans.AsofJoinPruning
  }
}

/** Session extensions registering graft's native Catalyst functions —
  * the official extension point (`spark.sql.extensions=
  * graft.functions.GraftExtensions`, set by [[graft.Sessions]]), so the
  * functions resolve by name (`call_function("vec_dot_f", ...)` or SQL)
  * on any executor without driver-side registry mutation.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(extensions.injectFunction)
    extensions.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    extensions.injectOptimizerRule(_ => graft.plans.AsofJoinPruning)
  }
}
