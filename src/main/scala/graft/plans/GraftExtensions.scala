package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.ArrayDotProduct

/**
 * Session extensions: expose graft's native expressions to SQL.
 *
 *   spark.sql.extensions=graft.plans.GraftExtensions
 *
 * makes `SELECT array_dot(a, b)` resolvable in plain SQL alongside the
 * Column API in [[graft.functions.GraftFunctions]]. This is the
 * SparkSessionExtensions injection point custom Rules/Strategies would also
 * hang off — none are needed for current semantics (every operator resolves
 * to built-in plans; see SURVEY §4 "custom work required").
 *
 * For a session built WITHOUT extensions (a host app that owns session
 * construction, or any [[graft.GraftSession]]), [[GraftExtensions.registerAll]]
 * performs the same registrations at runtime through the session's
 * FunctionRegistry — idempotent, so calling it per-query is safe (the SQL
 * catalog rows do, in `QueriesSql.run`).
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.registrations.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** Register every graft SQL function into an EXISTING session. */
  def registerAll(spark: SparkSession): Unit =
    registrations.foreach { case (ident, info, builder) =>
      org.apache.spark.sql.graftshim.RegistryShim
        .register(spark, ident, info, builder)
    }

  /** literal-int extractor shared by the k-parameterized registrations */
  private def litInt(e: Expression, what: String): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(s"$what must be an int literal")
    e.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$what must be an int literal, got $other")
    }
  }

  /** shared builder for the three byte-region fold registrations:
    * (bin, start, count[, stride]) with stride defaulting to 1 */
  private def byteFoldBuilder(name: String,
      op: Int): Seq[Expression] => Expression = (children: Seq[Expression]) => {
    require(children.length == 3 || children.length == 4,
      s"$name(bin, start, count[, stride]) takes three or four arguments")
    def asLong(e: Expression) =
      org.apache.spark.sql.catalyst.expressions.Cast(e,
        org.apache.spark.sql.types.LongType)
    val stride =
      if (children.length == 4) asLong(children(3))
      else org.apache.spark.sql.catalyst.expressions.Literal(1L)
    graft.functions.ByteFold(children.head, asLong(children(1)),
      asLong(children(2)), stride, op)
  }

  /** The single source of truth for graft's SQL-reachable functions —
    * consumed both by the build-time extension injection and the runtime
    * [[registerAll]] path. */
  val registrations: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "array_dot"),
      (children: Seq[Expression]) =>
        ArrayDotProduct(children.head, children(1))),
    (FunctionIdentifier("array_dot_long"),
      new ExpressionInfo(classOf[graft.functions.ArrayDotLong].getName,
        "array_dot_long"),
      (children: Seq[Expression]) =>
        graft.functions.ArrayDotLong(children.head, children(1))),
    // byte_at(bin, pos): unsigned byte as bigint, 1-based, null past the
    // end — the media-decode kernel, SQL-reachable like its Column form
    (FunctionIdentifier("byte_at"),
      new ExpressionInfo(classOf[graft.functions.ByteAt].getName, "byte_at"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "byte_at(bin, pos) takes exactly two arguments")
        graft.functions.ByteAt(children.head,
          org.apache.spark.sql.catalyst.expressions.Cast(children(1),
            org.apache.spark.sql.types.LongType))
      }),
    // grid_means(bin, pixStart, w, h, c, grid, meanScale): the media
    // fingerprint kernel — exact scaled grid-region means as array<bigint>
    // (grid/meanScale must be int literals, like the k-parameterized
    // registrations) — SQL-reachable like its Column form
    (FunctionIdentifier("grid_means"),
      new ExpressionInfo(classOf[graft.functions.GridMeans].getName,
        "grid_means"),
      (children: Seq[Expression]) => {
        require(children.length == 7,
          "grid_means(bin, pixStart, w, h, c, grid, meanScale) takes exactly seven arguments")
        def asLong(e: Expression) =
          org.apache.spark.sql.catalyst.expressions.Cast(e,
            org.apache.spark.sql.types.LongType)
        graft.functions.GridMeans(children.head, asLong(children(1)),
          asLong(children(2)), asLong(children(3)), asLong(children(4)),
          litInt(children(5), "grid_means grid"),
          litInt(children(6), "grid_means meanScale").toLong)
      }),
    // byte_sum/byte_min/byte_max(bin, start, count, stride): strided
    // byte-region folds as bigint — the media energy-loop kernel,
    // SQL-reachable like byte_at/grid_means. Null on out-of-bounds reads
    // and non-positive count/stride (see ByteFold).
    (FunctionIdentifier("byte_sum"),
      new ExpressionInfo(classOf[graft.functions.ByteFold].getName,
        "byte_sum"),
      byteFoldBuilder("byte_sum", graft.functions.ByteFold.Sum)),
    (FunctionIdentifier("byte_min"),
      new ExpressionInfo(classOf[graft.functions.ByteFold].getName,
        "byte_min"),
      byteFoldBuilder("byte_min", graft.functions.ByteFold.Min)),
    (FunctionIdentifier("byte_max"),
      new ExpressionInfo(classOf[graft.functions.ByteFold].getName,
        "byte_max"),
      byteFoldBuilder("byte_max", graft.functions.ByteFold.Max)),
    // byte_be(bin, start, len): big-endian unsigned read (≤ 8 bytes) as
    // bigint — the container-header kernel (truncated reads decode what's
    // there; see ByteBe)
    (FunctionIdentifier("byte_be"),
      new ExpressionInfo(classOf[graft.functions.ByteBe].getName, "byte_be"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "byte_be(bin, start, len) takes exactly three arguments")
        def asLong(e: Expression) =
          org.apache.spark.sql.catalyst.expressions.Cast(e,
            org.apache.spark.sql.types.LongType)
        graft.functions.ByteBe(children.head, asLong(children(1)),
          asLong(children(2)))
      }),
    // walsh_coeffs(gvec, c, grid, yShift): the shift-tolerant Walsh
    // coefficient subset of a grid_means fingerprint (grid an int literal,
    // yShift a 0/1 int literal) — the phash kernel, SQL-reachable like
    // grid_means
    (FunctionIdentifier("walsh_coeffs"),
      new ExpressionInfo(classOf[graft.functions.WalshCoeffs].getName,
        "walsh_coeffs"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "walsh_coeffs(gvec, c, grid, yShift) takes exactly four arguments")
        graft.functions.WalshCoeffs(children.head,
          org.apache.spark.sql.catalyst.expressions.Cast(children(1),
            org.apache.spark.sql.types.LongType),
          litInt(children(2), "walsh_coeffs grid"),
          litInt(children(3), "walsh_coeffs yShift") != 0)
      }),
    (FunctionIdentifier("topk_by"),
      new ExpressionInfo(classOf[graft.functions.BoundedTopK].getName, "topk_by"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "topk_by(sortKey, k) takes exactly two arguments")
        graft.functions.BoundedTopK(children.head,
          litInt(children(1), "topk_by k")).toAggregateExpression()
      }),
    (FunctionIdentifier("mg_candidates"),
      new ExpressionInfo(classOf[graft.functions.MisraGries].getName, "mg_candidates"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "mg_candidates(key, capacity) takes exactly two arguments")
        graft.functions.MisraGries(children.head,
          litInt(children(1), "mg_candidates capacity")).toAggregateExpression()
      }),
    // Spark ships BloomFilterAggregate / BloomFilterMightContain for its own
    // runtime join filtering but does not register them in the public
    // FunctionRegistry; exposing them gives SQL the broadcastable membership
    // sketch (join pre-filtering, incremental-dedup admission) without any
    // custom implementation. bloom_agg(col[, expectedItems[, numBits]]) →
    // binary sketch; bloom_might_contain(sketch, value) → boolean with no
    // false negatives.
    (FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      (children: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
        val agg = children match {
          case Seq(c) => new BloomFilterAggregate(c)
          case Seq(c, n) => new BloomFilterAggregate(c, n)
          case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
          case _ => throw new IllegalArgumentException(
            "bloom_agg(col[, expectedItems[, numBits]]) takes 1-3 arguments")
        }
        agg.toAggregateExpression()
      }),
    (FunctionIdentifier("kmin_values"),
      new ExpressionInfo(classOf[graft.functions.KMinValues].getName, "kmin_values"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "kmin_values(hash, k) takes exactly two arguments")
        graft.functions.KMinValues(children.head,
          litInt(children(1), "kmin_values k")).toAggregateExpression()
      }),
    (FunctionIdentifier("winnow_fingerprints"),
      new ExpressionInfo(classOf[graft.functions.WinnowFingerprints].getName,
        "winnow_fingerprints"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "winnow_fingerprints(text, k, w) takes exactly three arguments")
        graft.functions.WinnowFingerprints(children.head,
          litInt(children(1), "winnow_fingerprints k"),
          litInt(children(2), "winnow_fingerprints w"))
      }),
    (FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_might_contain"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "bloom_might_contain(sketch, value) takes exactly two arguments")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children.head, children(1))
      })
  )
}
